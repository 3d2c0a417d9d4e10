"""SparkSession factory.

Local testing runs one JVM with N threads; at cluster scale the same configs
apply per-executor. AQE is always on so skewed range joins / shuffles re-plan
at runtime; shuffle partitions default to the core count locally (the cluster
deployment overrides via spark-submit conf, typically 2-3x total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "rca_data_tools_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults are chosen for deterministic oracle comparison (UTC session
    timezone, ANSI off so arithmetic matches the reference's numpy semantics)
    and for scale-readiness (AQE + skew-join handling on, Arrow enabled for
    every pandas-UDF boundary).
    """
    cpus = int(DEFAULT_CPUS)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # Whole-stage codegen emits one compiled class per plan; a session
        # that runs 100+ distinct queries fills the JVM's default 240 MB code
        # cache, the JIT shuts off, and later queries run interpreted 3-5x
        # slower (measured on the bench suite). Spark's own tuning guide
        # recommends raising it for codegen-heavy workloads. Round 8
        # re-measured the exhaustion at 1g as the query registry grew past
        # 220 plans (dedup_minhash_lsh sf1: ~52s flat with 1g late in the
        # bench vs 7.9s steady-state with 2g — the same 3-5x interpreted
        # signature the round-3 study found at 240 MB).
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS",
                "-XX:ReservedCodeCacheSize=2g -XX:+UseCodeCacheFlushing",
            ),
        )
        .config("spark.ui.enabled", "false")
        # The engine's table protocol carries its own per-version commit
        # markers (_commit), so Hadoop's _SUCCESS is a redundant legacy
        # marker — and it costs a filesystem round-trip on EVERY write job.
        # Measured r12: ~0.06s per version write at local-merge scale, and
        # the lifecycle faces pay tens of writes per chain. Nothing in the
        # repo (readers, manifests, oracle replays) reads _SUCCESS.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # PySpark 4 wraps EVERY DataFrame/Column API call to capture the
        # Python call site for error enrichment (errors/utils._with_origin):
        # a stack walk + a conf read + a py4j round-trip per call. Profiling
        # dedup_simhash_capped showed ~1.2s of an 8.4s run inside that
        # wrapper (698 calls). Pure driver-side overhead with no effect on
        # results or executor work — off for the engine's sessions
        # (guide §5: the driver should do almost no work; §1.2 step 2).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Python workers run under this package's daemon, so a task no
        # longer re-reads pyspark.zip. PySpark's worker calls
        # importlib.invalidate_caches() before every task, and on Python
        # 3.11 each zipimporter's invalidate_caches re-reads its archive's
        # whole central directory at once. A worker holds one importer per
        # imported subpackage on $SPARK_HOME/python/lib/pyspark.zip (1,328
        # entries; 12 importers after one mapInPandas task), so that call
        # took 0.18-0.22 s of every task. worker_daemon re-reads an archive
        # only when its mtime or size changed. With PythonRunner logging at
        # INFO, "Times: init" of a warm 1-task job fell from 198-322 ms to
        # 30-86 ms per task, and the job from 0.23-0.37 s to 0.10-0.18 s
        # (4-core box). It is a conf, not a patched pyspark: Spark's own
        # daemon-module setting selects it, no installed file changes, and
        # extra_conf can still set it back. The engine's UDFs already need
        # this package on the workers.
        .config("spark.python.daemon.module", "rca_data_tools_spark.worker_daemon")
    )
    # Deployment-parameterized overrides (guide §9): SPARK_GRAFT_EXTRA_CONF
    # carries ';'-separated key=value pairs (e.g. shuffle codec, adaptive
    # advisory sizes) so the cluster deployment can retune without code
    # edits; an explicit extra_conf argument still wins.
    overrides = {}
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in filter(None, env_conf.split(";")):
        k, _, v = pair.partition("=")
        if k and v:
            overrides[k.strip()] = v.strip()
    overrides.update(extra_conf or {})
    if master.startswith("local"):
        # The daemon above is this package, so the workers must import it
        # whatever the JVM's working directory and PYTHONPATH: the
        # package's parent goes after any path the caller configured.
        key = "spark.executorEnv.PYTHONPATH"
        package_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        overrides[key] = os.pathsep.join(filter(None, (overrides.get(key), package_parent)))
    for k, v in overrides.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
