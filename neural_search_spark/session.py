"""SparkSession factory tuned for local[32] runs, and `local_frame` for
query-time constants.

At cluster scale the same settings apply except master/memory come from
spark-submit; AQE handles runtime skew/coalesce re-planning.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import tempfile

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

UDS_DIR_CONF = "spark.python.unix.domain.socket.dir"
#: Spark binds its Unix sockets at `<dir>/.<uuid>.sock` (the dir plus 43
#: bytes) and the JVM takes socket paths of at most 106 bytes, so a 63-byte
#: dir is the physical limit; Spark itself refuses a configured dir over 61.
UDS_DIR_MAX_BYTES = 61


def unix_socket_dir_fits(sock_dir: str) -> bool:
    return len(os.fsencode(sock_dir)) <= UDS_DIR_MAX_BYTES


def _remove_if_present(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """`rows` (tuples in the column order of the DDL `schema`) as a local
    relation, built through Arrow: reading it back runs no Spark job, while
    `createDataFrame(<list>)` plans a Python RDD whose every read is a
    Python-worker job. Values pass through unchanged, strings included."""
    arrow = to_arrow_schema(StructType.fromDDL(schema))
    cols = list(zip(*rows)) or [()] * len(arrow)
    return spark.createDataFrame(
        pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow)
    )


def get_spark(
    app_name: str = "neural_search_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # pyarrow's bundled jemalloc memory pool collapses under many concurrent
    # Python workers on this kernel (madvise/huge-page churn: a 32-worker
    # stage ran 232s wall / 3400s kernel-time with jemalloc vs 23s / 500s
    # with the system allocator). Must be in the env BEFORE the JVM starts
    # so forked pyspark workers inherit it.
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    # glibc page retention in the python workers: first-touch page faults
    # are catastrophically slow on this virtualized host (4GB of fresh
    # anon memory measured at 59s to fault across 8 procs cold; ~1s once
    # host-backed) and 32 workers faulting concurrently collapse into
    # kernel zone-lock/memcg contention. Disabling arena trimming and
    # raising the mmap threshold makes each long-lived worker fault its
    # working set ONCE and keep the pages — the same behavior long-lived
    # cluster executors exhibit naturally.
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    split_mb = int(os.environ.get("SPARK_GRAFT_SPLIT_MB", "4"))
    if shuffle_partitions is None:
        # match core count in local mode; a real cluster would size this to
        # 2-3x total executor cores (or rely on AQE coalescing).
        inner = master.split("[")[-1].rstrip("]")
        shuffle_partitions = 32 if inner in ("*", "") else max(8, int(inner))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # force the sort-based shuffle writer: the bypass-merge writer opens
        # maps×reducers files per shuffle (4096 at 64×64), which at high
        # local parallelism turns into a kernel-time storm (measured 34% sys
        # → 4%); on a real cluster with wide shuffles sort-based is the norm
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        .config("spark.shuffle.file.buffer", "1m")
        # v2 output commit: per-task rename into place instead of a serial
        # driver-side move of every file at job commit — stage-commit time
        # was measured as part of the constant serial latency limiting
        # small-input scaling efficiency
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # bigger Arrow batches: fewer pandas frames + concat boundaries in
        # the vectorized encode/decode UDFs
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Spark 4's default maxBytesPerBatch (64MB) makes the JVM→Python
        # Arrow writer call ArrowWriter.sizeInBytes() — a recursive
        # struct-vector buffer walk that allocates iterators — for EVERY
        # input row (BatchedPythonArrowInput.writeSizedBatch only skips the
        # check when the limit is exactly Int.MaxValue). jstack-sampling the
        # segment encode showed ~40% of RUNNABLE JVM samples inside that
        # walk. Batch size stays bounded by maxRecordsPerBatch (65536 rows
        # of fixed-width posting columns ≈ 2.4MB), so the byte limit adds
        # nothing here — disable it by pinning the sentinel value.
        # ASSUMPTION (session-global): every Arrow/pandas UDF hot path in
        # this engine moves fixed-width or short-string batches; with the
        # sentinel, a UDF carrying full document text is bounded only by
        # row count (65536 rows × ~1KB docs ≈ 64MB/batch — fine; 65536 ×
        # 1MB docs would not be). For sessions feeding very wide
        # variable-width columns through Python, restore a byte cap via
        # SPARK_GRAFT_ARROW_MAXBYTES_MB (re-enables the per-row size walk
        # for THAT session only).
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            str(int(os.environ["SPARK_GRAFT_ARROW_MAXBYTES_MB"]) * 1024 * 1024)
            if os.environ.get("SPARK_GRAFT_ARROW_MAXBYTES_MB")
            else str((1 << 31) - 1),
        )
        # Finer splits/partitions for CPU-dense stages. Tokenize +
        # tf-counting over a parquet checkpoint costs ~10-100× the per-byte
        # CPU of a plain scan, so byte-sized defaults tuned for thin scans
        # (128MB splits, 64MB AQE advisory, 128MB row groups) starve the
        # cores: measured on a 32-core build, AQE coalesced the docs
        # checkpoint to TWO files, each one row group — the unit below
        # which maxPartitionBytes cannot split — and jstack showed all but
        # 2 executor threads parked in getTask while 2 did every tokenize.
        # 4MB splits / advisory / row groups keep every stage of a small
        # run as wide as the core count; at 100 TB every stage has
        # thousands of splits regardless and the only cost is slightly
        # smaller row groups in intermediate checkpoints (the final segment
        # store is dir-partitioned + sorted, unaffected). Override via
        # SPARK_GRAFT_SPLIT_MB for pure-scan workloads.
        .config("spark.sql.files.maxPartitionBytes", str(split_mb * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(split_mb * 1024 * 1024))
        .config("spark.hadoop.parquet.block.size", str(split_mb * 1024 * 1024))
    )
    # THP for the JVM heap (madvise mode is enabled on this kernel): 2MB
    # pages cut heap-growth fault counts 512×; combined with an -Xms floor
    # the heap is host-backed early instead of fault-expanding mid-job.
    # SPARK_GRAFT_JAVA_OPTS appends/overrides (e.g. -Xms16g
    # -XX:+AlwaysPreTouch for benchmarks that pre-fault the full heap).
    java_opts = "-XX:+UseTransparentHugePages -Xms4g"
    extra_opts = os.environ.get("SPARK_GRAFT_JAVA_OPTS")
    if extra_opts:
        java_opts = f"{java_opts} {extra_opts}"
    builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    # The fixed entry cost of every Python task, in two parts. Measured on
    # a 4-core host at local[2] with reused workers; a one-task no-op job
    # took 206 ms (median) stock, 140 ms with the daemon alone, 105 ms with
    # both parts.
    # - Daemon: each task starts with importlib.invalidate_caches(), which
    #   on Python 3.11 makes every zipimporter re-read its archive's
    #   directory: pyspark.zip once per imported sub-package, the py4j zip
    #   and the spark-core jar, 16 re-reads and 160-220 ms per task.
    #   `_pydaemon` skips the re-read for archives under $SPARK_HOME, which
    #   do not change while Spark runs: 0.67 ms per task. The JVM starts it
    #   with `python -m` from its own working directory, hence the path.
    # - Unix domain sockets instead of loopback TCP for the JVM <-> worker
    #   traffic and for results collected back into Python. Alone they gained nothing
    #   measurable (the re-reads dominate); with the daemon, the no-op job
    #   fell another 140 -> 105 ms. Enabled only when the socket path fits.
    #   Spark sends no auth secret over them: the permissions of the temp
    #   dir (or a configured socket dir) are what guard the sockets.
    # Per warm interactive search (perfbench, seed 7), executor time of the
    # topk decode job fell 0.36 -> 0.06 s and of the fetch job 0.36 -> 0.03 s.
    builder = builder.config("spark.python.daemon.module", "neural_search_spark._pydaemon").config(
        "spark.executorEnv.PYTHONPATH", os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    sock_dir = (extra_conf or {}).get(UDS_DIR_CONF) or tempfile.gettempdir()
    if unix_socket_dir_fits(sock_dir):
        builder = builder.config("spark.python.unix.domain.socket.enabled", "true").config(
            UDS_DIR_CONF, sock_dir
        )
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    address = spark.sparkContext._accumulatorServer.server_address
    if isinstance(address, str):
        # a Unix socket file: PySpark deletes it only in SparkContext.stop(),
        # so a session still open at exit would leave it behind
        atexit.register(_remove_if_present, address)
    return spark
