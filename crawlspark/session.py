"""SparkSession factory tuned for the sandbox (local[N]) and for scale.

The same config block is what a cluster submit would use, minus master():
AQE on (runtime re-plan + skew-join splitting backs up our explicit salting),
Arrow on (every UDF is pandas/Arrow-batched), shuffle partitions sized to
cores (not the 200 default), UTC so DuckDB-oracle comparisons are stable.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

_AQE_OFF = {"spark.sql.adaptive.enabled": "false"}


def _default_driver_mem() -> str:
    """Half the host's physical memory, at most 16 GB. In local mode the
    driver JVM also runs every executor, and a heap sized to the whole host
    lets it grow until the kernel kills it instead of collecting."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf (non-POSIX)
        return "16g"
    return f"{min(16 * 1024, phys // 2 // 2**20)}m"


def get_spark(
    app_name: str = "crawlspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    # Under `spark-submit` the JVM gateway already exists (PythonRunner exports
    # PYSPARK_GATEWAY_PORT to the driver) and carries --master / --conf from
    # the submit command line — the cluster's source of truth. In that mode the
    # builder must not override anything the submit set; our config block only
    # fills gaps. A plain `python script.py` driver has no gateway env and gets
    # the sandbox defaults below.
    submit_preset: dict[str, str] = {}
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        from pyspark import SparkConf
        from pyspark.context import SparkContext

        # SparkConf() is pure-Python (and empty) until the Py4J gateway is
        # attached; _ensure_initialized connects to the gateway spark-submit
        # already started (it does NOT launch a second JVM — launch_gateway
        # short-circuits on PYSPARK_GATEWAY_PORT) and makes the JVM system
        # properties (--master, --conf ...) readable.
        SparkContext._ensure_initialized()
        submit_preset = dict(SparkConf().getAll())

    # Python UDF workers churn numpy temps of 150 KB–1 MB (image payloads);
    # glibc's default 128 KB mmap threshold turns every one into an
    # mmap+page-fault+munmap cycle, and the kernel's page zeroing doubles the
    # write traffic of an already bandwidth-bound phase. Raising the threshold
    # keeps those temps on the reusable heap: +38-40% on the payload kernel at
    # BOTH 4 and 16 workers (BENCH/BASELINE.md §2d, heap-reuse item 2). glibc reads the env at
    # process start, so set it before the gateway JVM (whose python daemons
    # inherit it) exists; executorEnv carries the same setting to a real
    # cluster's executors.
    malloc_env = {
        "MALLOC_MMAP_THRESHOLD_": str(256 * 1024 * 1024),
        "MALLOC_TRIM_THRESHOLD_": str(256 * 1024 * 1024),
    }
    for k, v in malloc_env.items():
        os.environ.setdefault(k, v)

    cores = os.cpu_count() or 8
    if master is None and "spark.master" in submit_preset:
        master = submit_preset["spark.master"]
    # local-cluster[n,c,mem] spawns REAL separate executor JVMs (the
    # multi-executor scaling controls use it); its Worker launcher resolves
    # spark-class via SPARK_HOME, which a bare pip/conda pyspark install
    # leaves unset — the package dir carries the needed jars and scripts.
    os.environ.setdefault("SPARK_HOME", os.path.dirname(os.path.abspath(__import__("pyspark").__file__)))
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', cores)}]")
    if shuffle_partitions is None and "spark.sql.shuffle.partitions" in submit_preset:
        shuffle_partitions = int(submit_preset["spark.sql.shuffle.partitions"])
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cores)
        if "," in n and master.startswith("local-cluster"):
            # local-cluster[workers,cores_per_worker,mem_mb]; a plain
            # local[N,maxFailures] master also carries a comma but its first
            # field is already the core count (round-6 advice fix)
            w, c = n.split(",")[:2]
            n = int(w) * int(c)
        elif "," in n:  # local[N,maxFailures] — cores is the first field
            n = n.split(",")[0]
        n = cores if n == "*" else int(n)
        shuffle_partitions = max(2 * int(n), 8)

    defaults = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # image binary columns make rows big — cap Arrow batch rows
        # (256 rows × ~200KB payload ≈ 50MB per in-flight batch per core)
        "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
        "spark.driver.memory": os.environ.get("CRAWLSPARK_DRIVER_MEM", _default_driver_mem()),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }
    for k, v in malloc_env.items():
        defaults[f"spark.executorEnv.{k}"] = v
    b = SparkSession.builder.master(master).appName(app_name)
    for k, v in defaults.items():
        # gap-fill only: a --conf from spark-submit wins over sandbox defaults
        # (shuffle_partitions resolved above, so an explicit arg still wins)
        if k not in submit_preset or k == "spark.sql.shuffle.partitions":
            b = b.config(k, v)
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def conf_scope(spark, values: dict[str, str]):
    """Set the session SQL conf `values` for the body and restore the
    previous values afterwards, also when the body raises."""
    conf = spark.conf
    prev = {k: conf.get(k) for k in values}
    try:
        for k, v in values.items():
            conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            conf.set(k, v)


def cut_lazy(df: DataFrame) -> DataFrame:
    """The package's one lifetime for shared per-query and per-run frames: a
    statically compiled, NON-EAGER localCheckpoint. Every frame that is
    shared or whose lineage must stop goes through it — the crawl engine's
    selection, fetch outcomes, expansion and memory-mode `_materialize`, the
    frontier's rank tail, and the datapipe's fan-out frames — so all of them
    have one lifetime: the checkpointed blocks are freed by the context
    cleaner once the frame's Python references drop (the engine's memory
    mode holds them until the end-of-run output union). Nothing is
    persisted, so nothing needs releasing. The only persisted frames in the
    package are the crawl engine's engine-lifetime fixtures.

    Why not .persist(): the wave's fused action is a UNION of two
    aggregates over the same frames (outcomes + expansion), and the rank
    is a SELF-join (frame ⋈ its own count aggregate). In both shapes the
    analyzer rewrites one side's attribute ids to resolve the conflict —
    and after that rewrite the cache-manager's plan matching no longer
    substitutes the persisted frame on that side (verified on the live
    plan: wave 2's fused plan carried ZERO InMemoryTableScans in the
    expansion branch and recomputed politeness + selection + fetch from
    the raw frontier snapshot — the politeness chain executed ~4× per
    wave, the fetch pipeline 2×). An RDD leaf is immune: the dedup
    renames the LogicalRDD's output attributes but they still bind to
    the SAME checkpointed RDD, whose partitions compute exactly once
    under the block manager's per-partition lock — even when both
    branches of one job race to them.

    Why static (AQE off): under AQE, plan→RDD conversion materializes
    non-final query stages at COMPILE time (a serial driver round trip
    per cut), and the compiled AdaptiveSparkPlanExec reports unknown
    partitioning, so the checkpointed frame would lose its layout.
    Compiled statically, the frontier snapshot reports
    hashpartitioning(host_bucket), which both politeness windows ride
    exchange-free (per_host_topk leads its partition keys with
    host_bucket for exactly this). A static compile also runs a range
    exchange's bounds-sampling job when the cut is made, not when the
    query is consumed.

    The cut sets AQE off in the frame's session while it compiles and
    restores it afterwards, so it is not reentrant across threads that
    share a session: another thread's query planned meanwhile sees AQE
    off, and two concurrent cuts can restore each other's value."""
    with conf_scope(df.sparkSession, _AQE_OFF):
        return df.localCheckpoint(eager=False)
