"""SparkSession factory tuned for this engine.

Local mode stands in for a multi-executor cluster; every knob here is the
one we would also set on a real 1000-executor deployment (AQE, skew join,
Arrow batching, sane shuffle partitioning, a generated-class cache that
holds the engine's working set, JVM case mapping).
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import SparkSession


def package_zip(dest_dir: str = "/tmp") -> str:
    """Zip the tcmkg package for worker shipping — the local-mode equivalent
    of `spark-submit --py-files tcmkg.zip` (north-rule deployment shape).
    Python workers are separate processes and do not inherit the driver's
    sys.path, so the package must travel via addPyFile."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(dest_dir, "tcmkg_pyfiles.zip")
    with zipfile.ZipFile(out, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join("tcmkg", os.path.relpath(full, pkg_dir))
                    z.write(full, rel)
    return out


def default_driver_memory() -> str:
    """The smaller of 24g and half the host's physical memory: a driver JVM
    sized past that gets OOM-killed once a second Spark process runs."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(24 * 1024, phys // 2**21)}m"


# Entries in Spark's generated-class cache (`spark.sql.codegen.cache.maxEntries`,
# a static conf; Spark's default is 100). Census of CodegenMetrics
# compilations at local[4]: five `near_dedup` ops over 1,000 documents compile
# 226-252 distinct classes, a perfbench `near_dedup` run ~265 and a
# `KGPipeline.run` build ~117. At 100 entries each warm `near_dedup` op plus
# its follow-up evicted and recompiled 169-187 classes, 1.6-1.9 s of Janino
# time in a 4.4-5.4 s op; at 1000 it compiles 6-36, and a second build in one
# process 0-4 instead of 42-78. The bound caps the compiled classes kept alive.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "tcmkg",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: int N -> local[N]; "*" -> local[*]; None -> $SPARK_GRAFT_CPUS or "*".
    shuffle_partitions defaults to the core count (local mode: more is waste).
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    ncores = os.cpu_count() or 8
    if isinstance(cores, int) or (isinstance(cores, str) and cores.isdigit()):
        ncores = int(cores)
    if shuffle_partitions is None:
        shuffle_partitions = max(8, ncores)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("TCMKG_DRIVER_MEM", default_driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # lower/upper on the JVM's own case mapping, not ICU's: the first
        # ICU `lower` in a JVM loads its tables for 1.4-1.8 s (0.2 s on the
        # JVM path), and that call is ingest's `text_norm_col`. The two
        # differ on 67 code points, all Unicode-version skew; none occurs in
        # the fixtures, and Python's `str.lower` (the oracle) matches neither
        # everywhere.
        .config("spark.sql.icu.caseMappings.enabled", "false")
    )
    # RAM-backed shuffle dirs: on this single box the overlay-fs /tmp makes
    # shuffle I/O a serial bottleneck that masks CPU scaling; a real cluster
    # would have NVMe + network shuffle. tmpfs restores the honest compute
    # profile. (Harmless if /dev/shm is absent.)
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        b = b.config("spark.local.dir", "/dev/shm/tcmkg-spark")
        # shuffle bytes live in RAM here, so lz4 is pure CPU overhead that
        # inflates per-core work (~2x on the window chain). On a network
        # shuffle cluster leave compression ON — this branch only fires with
        # tmpfs-local shuffle.
        b = b.config("spark.shuffle.compress", "false")
        b = b.config("spark.shuffle.spill.compress", "false")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # ship the package to Python workers (works in local and cluster mode)
    try:
        spark.sparkContext.addPyFile(package_zip())
    except Exception:
        pass  # already added in this context
    return spark
