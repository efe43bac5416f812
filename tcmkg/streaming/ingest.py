"""Structured-Streaming ingestion for incremental KG construction.

The reference is pure batch (SURVEY.md §2.8) and the batch pipeline with
checkpoint resume covers its semantics. This module adds the streaming-
arrival shape a production transcript feed has:

  stream_transcripts   readStream over a parquet landing directory (swap
                       format for kafka on a real feed; schema fixed)
  streaming_turn_stats watermarked sliding-window per-conversation turn
                       counts (late data handled by the watermark)
  incremental_mentions foreachBatch: every micro-batch runs the SAME batch
                       mention kernel and lands partial-aggregate mention
                       rows under an epoch_id-keyed subdirectory. Because
                       the kernel emits map-side partials and
                       assemble_triples is a pure reduce, triples over the
                       union of landed partials equal a batch run over all
                       data seen so far. foreachBatch alone is only
                       at-least-once (a crash after the write but before
                       the checkpoint commit replays the epoch); each
                       epoch is a CheckpointStore stage published by
                       rename, so the re-run replaces its own directory
                       instead of appending duplicates — which yields
                       exactly-once *output* end to end.

Carry-forward across batches: T2b lines ("亦主治…") need the conversation's
earlier turns; micro-batches see only new rows. `incremental_mentions`
resolves anchors within each micro-batch only (fine when feeds land whole
conversations per file — the typical log-rotation unit). For feeds that
split conversations across batches, `stateful_resolve_stream` /
`incremental_triples_stateful` keep the carried anchor in
applyInPandasWithState state per conv_id, so the split imposes no
constraint (contract query kg_stream_stateful hash-verifies this against
the batch oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..pipeline.checkpoints import CheckpointStore

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def stream_transcripts(
    spark: SparkSession, landing_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(landing_dir)
    )


def stream_dedup_turns(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Feed-level duplicate suppression with BOUNDED state: duplicate
    (conv_id, turn_idx) arrivals within the watermark horizon are dropped
    via dropDuplicatesWithinWatermark, which evicts keys older than the
    watermark — a plain streaming dropDuplicates would hold every key seen
    forever, which at 10^12 turns is unbounded state. This is the
    streaming analogue of ingest()'s dedup window (same key; the batch
    window additionally picks min (ts, text) among duplicates, which a
    streaming dedup cannot — it keeps the FIRST arrival)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )


def streaming_turn_stats(stream: DataFrame, window: str = "1 hour",
                         watermark: str = "2 hours") -> DataFrame:
    """Per (event-time window, conv) turn counts with late-data watermark."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "conv_id")
        .agg(F.count("*").alias("n_turns"))
        .select(F.col("w.start").alias("w_start"), "conv_id", "n_turns")
    )


RESOLVED_SCHEMA = (
    "conv_id string, turn_idx int, tnorm string, f1_id string, t2_formula string"
)
_STATE_SCHEMA = "last_formula string, max_turn int"


def stateful_resolve_stream(stream: DataFrame, formula_alias: dict[str, str]) -> DataFrame:
    """Carry-forward anchor resolution ACROSS micro-batches: the custom
    stateful operator (applyInPandasWithState) that removes the
    whole-conversation-per-file requirement of the foreachBatch path.

    Per conv_id, state = (last anchored formula, max turn seen). Each
    micro-batch's rows for a conversation are sorted by turn_idx, resolved
    with the same prefix rules as the batch `resolve_anchors` (vectorized
    pandas — no per-row Python), and the running anchor seeds from state,
    so a T2b carry-forward line ("亦主治…") resolves even when its anchor
    arrived in an earlier micro-batch.

    Ordering contract: per conversation, a turn must not arrive in an
    EARLIER micro-batch than a lower-indexed turn (log-append feeds satisfy
    this; within one micro-batch any order is fine). Turns at or below the
    state's max_turn are treated as feed duplicates and dropped — the
    upstream dedup analogue of ingest()'s window.
    """
    import pandas as pd

    def fn(key, pdf_iter, state):
        from ..kernels.normalize import text_norm

        lf, max_turn = (state.get if state.exists else (None, -1))
        chunks = list(pdf_iter)
        pdf = (
            pd.concat(chunks, ignore_index=True)
            if len(chunks) > 1
            else chunks[0]
        )
        pdf = (
            pdf.sort_values(["turn_idx", "ts", "text"])
            .drop_duplicates("turn_idx")
        )
        pdf = pdf[pdf["turn_idx"] > max_turn]
        if len(pdf):
            # null text -> "" (the batch path's text_norm_col is null-safe;
            # "" carries no rule token, so the row contributes nothing)
            tn = pdf["text"].map(lambda s: text_norm(s) if isinstance(s, str) else "")
            has_colon = tn.str.contains(":", regex=False)
            p1 = tn.str.split(":", n=1).str[0].where(has_colon)
            f1 = p1.map(formula_alias)
            has_zz = tn.str.contains("主治", regex=False)
            p2 = tn.str.split("主治", n=1).str[0].where(has_zz & f1.isna())
            f2 = p2.map(formula_alias)
            is_assistant = pdf["role"].eq("assistant")
            anchor = f1.fillna(f2).where(is_assistant)
            carried = anchor.ffill()
            if lf is not None:
                carried = carried.fillna(lf)  # leading rows inherit state
            t2 = f2.fillna(carried).where(has_zz & f1.isna())
            # only assistant turns carry extractable rules (the batch
            # rule_prefilter's role predicate); user turns still advanced
            # the dedup/ordering state above
            out = pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"],
                    "turn_idx": pdf["turn_idx"],
                    "tnorm": tn,
                    "f1_id": f1.astype(object).where(f1.notna(), None),
                    "t2_formula": t2.astype(object).where(t2.notna(), None),
                }
            )[is_assistant.to_numpy()]
            last = carried.iloc[-1]
            lf = None if pd.isna(last) else last
            max_turn = int(pdf["turn_idx"].max())
            state.update((lf, max_turn))
            yield out
        else:
            state.update((lf, max_turn))
            yield pd.DataFrame(
                {c: [] for c in ("conv_id", "turn_idx", "tnorm", "f1_id", "t2_formula")}
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream.groupBy("conv_id").applyInPandasWithState(
        fn, RESOLVED_SCHEMA, _STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
    )


def incremental_triples_stateful(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    pipeline=None,
    max_files_per_trigger: int = 4,
):
    """Full streaming KG pipeline with cross-batch anchor state:
    stateful resolve -> rule prefilter -> the SAME batch mention kernel
    (mapInPandas works on streaming DataFrames) -> exactly-once parquet
    file sink (Spark's _spark_metadata commit log). Unlike
    incremental_mentions, conversations may be split across micro-batches.
    """
    import os
    import shutil
    import warnings

    from ..pipeline.extract import extract_mentions
    from ..pipeline.runner import KGPipeline

    pipe = pipeline or KGPipeline(spark)
    # same lineage coupling as incremental_mentions: the file sink's
    # _spark_metadata commit log belongs to one checkpoint lineage. Only a
    # directory that IS a prior file-sink output (it has _spark_metadata)
    # is cleared — never unrelated caller data behind a typo'd path.
    if _fresh_checkpoint(checkpoint_dir) and os.path.isdir(out_dir):
        if os.path.exists(os.path.join(out_dir, "_spark_metadata")):
            shutil.rmtree(out_dir, ignore_errors=True)
        elif os.listdir(out_dir):
            warnings.warn(
                f"fresh checkpoint but out_dir {out_dir!r} is non-empty and "
                "not a prior stream-sink output; leaving it untouched — "
                "readers may see mixed lineages",
                stacklevel=2,
            )
    from ..pipeline.extract import rule_predicate

    stream = stream_transcripts(spark, landing_dir, max_files_per_trigger)
    resolved = stateful_resolve_stream(stream, pipe.maps["formula"])
    # SHARED marker predicate (pipeline/extract.RULE_MARKERS): a marker
    # added to the batch prefilter is automatically live here — the r5
    # derived-entity markers exposed that these two lists can drift
    pre = resolved.filter(
        F.col("f1_id").isNotNull() | rule_predicate(F.col("tnorm"))
    ).select("tnorm", "f1_id", "t2_formula")
    mentions = extract_mentions(spark, pre, pipe.maps, cache_key="stream")
    return (
        mentions.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def mention_sink(pipe, out_dir: str):
    """foreachBatch function: publish this epoch's mention partials as the
    CheckpointStore stage `epoch=<epoch_id>` of a store rooted at
    `out_dir`. Replaying an epoch (crash between write and checkpoint
    commit) replaces its own directory by rename — idempotent, so
    downstream reads see each epoch exactly once. Readers
    `CheckpointStore(out_dir).read_committed(spark, "epoch")` get the
    committed epochs with an `epoch` column for free (lineage: which
    micro-batch produced which partials)."""
    store = CheckpointStore(out_dir)

    def per_batch(batch_df: DataFrame, epoch_id: int) -> None:
        store.write(pipe.mentions(batch_df), f"epoch={int(epoch_id)}")

    return per_batch


def _fresh_checkpoint(checkpoint_dir: str) -> bool:
    """True when the checkpoint has no committed micro-batches — i.e. epoch
    ids will start from 0."""
    import os

    commits = os.path.join(checkpoint_dir, "commits")
    try:
        return not any(not e.startswith(".") for e in os.listdir(commits))
    except FileNotFoundError:
        return True


def incremental_mentions(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    pipeline=None,
):
    """Start a stream landing mention partials per micro-batch.

    Epoch-keyed publish is exactly-once only WITHIN one checkpoint
    lineage: a fresh/deleted checkpoint restarts epoch ids at 0, which would
    replace epoch=0 but leave stale higher-epoch partials from the prior
    lineage silently double-counting mentions. So a fresh checkpoint clears
    the prior lineage's epochs before the stream starts — one output
    directory belongs to one checkpoint lineage. Only the stages the sink
    published (the out_dir manifest) are removed, never unrelated caller
    data."""
    from ..pipeline.runner import KGPipeline

    pipe = pipeline or KGPipeline(spark)
    if _fresh_checkpoint(checkpoint_dir):
        CheckpointStore(out_dir).clear()
    stream = stream_transcripts(spark, landing_dir)

    return (
        stream.writeStream.foreachBatch(mention_sink(pipe, out_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_near_dedup(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    doc_schema: str = "doc_id long, text string",
    n_bands: int = 6,
    rows_per_band: int = 2,
    max_bucket: int = 256,
    threshold: float = 0.5,
    max_files_per_trigger: int = 1,
):
    """Streaming near-duplicate suppression — the production crawl shape
    (SURVEY §2.8 + the incremental-dedup operator composed under
    Structured Streaming):

        crawl files land in `landing_dir`
          → file stream (availableNow, oldest-first micro-batches)
          → foreachBatch: exact id-dedup within the batch, then
            near_dedup_incremental(seen_kept, batch,
                                   seen_sigs=<persisted index>)
          → kept docs, removals and the kept docs' minhash signatures
            are each published as the CheckpointStore stage `epoch=N`
            (banding recorded in the signature stage's manifest entry)

    Per-micro-batch cost is sign(batch) + bucket join against the index —
    the corpus text is only touched to verify candidate pairs, so the
    operator's work is proportional to the arrival rate, not the corpus
    (the 10^12-doc crawl shape). The first micro-batch bootstraps with a
    full near_dedup of itself.

    PRECONDITION (inherited from near_dedup_incremental, ValueError):
    doc ids must be monotone across micro-batches — every earlier-landed
    id below every later id (the standard crawl-ingestion layout).

    Outputs under `out_dir`, one CheckpointStore per directory:
      docs/epoch=N/      kept docs of micro-batch N
      removals/epoch=N/  (removed_doc, keep_doc, via) of micro-batch N
      sigstore/epoch=N/  the signature index of micro-batch N's kept docs

    The sigstore manifest is the commit log: an epoch is prior once its
    signature stage is committed, and each batch reads the signature index
    and the seen docs once each, filtered to the prior epochs. A retry
    republishes its own epoch; a fresh checkpoint clears the prior lineage
    (as in incremental_mentions)."""
    import os

    from ..ops.dedup import near_dedup, near_dedup_incremental, write_signature_index

    docs, removals, sigs = (
        CheckpointStore(os.path.join(out_dir, d)) for d in ("docs", "removals", "sigstore")
    )
    if _fresh_checkpoint(checkpoint_dir):
        for store in (docs, removals, sigs):
            store.clear()

    def per_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.dropDuplicates([id_col])
        prior = {
            int(e): m for e, m in sigs.partitions("epoch").items() if int(e) < epoch_id
        }
        if prior:
            bandings = {(m["n_bands"], m["rows_per_band"]) for m in prior.values()}
            if bandings != {(n_bands, rows_per_band)}:
                raise ValueError(f"signature index banding {bandings} != ({n_bands}, {rows_per_band})")
            in_prior = F.col("epoch").isin([str(e) for e in prior])
            seen = docs.read_committed(spark, "epoch").filter(in_prior).drop("epoch")
            res = near_dedup_incremental(
                seen, batch, id_col, text_col,
                n_bands=n_bands, rows_per_band=rows_per_band,
                max_bucket=max_bucket, threshold=threshold,
                seen_sigs=sigs.read_committed(spark, "epoch").filter(in_prior).drop("epoch"),
                seen_banding=(n_bands, rows_per_band),
            )
            kept = res["kept_new"]
        else:
            # bootstrap micro-batch: the batch self-dedups
            res = near_dedup(
                batch, id_col, text_col,
                n_bands=n_bands, rows_per_band=rows_per_band,
                max_bucket=max_bucket, threshold=threshold,
            )
            kept = res["kept"]
        stage = f"epoch={epoch_id}"
        docs.write(kept.select(id_col, text_col), stage)
        removals.write(res["removals"], stage)
        # sign the LANDED kept docs (re-read: one lineage for index+docs);
        # the signature stage's commit is the epoch's publish — a retry
        # after a crash before it re-runs the whole epoch against the same
        # `prior` set
        write_signature_index(
            sigs, docs.read(spark, stage), stage, id_col, text_col,
            n_bands, rows_per_band,
        )
        res["unpersist"]()

    stream = (
        spark.readStream.schema(doc_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("latestFirst", "false")
        .parquet(landing_dir)
    )
    return (
        stream.writeStream.foreachBatch(per_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
