"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what the production conf would be on a real
cluster: AQE on (runtime skew-join splitting + partition coalescing),
Arrow enabled for pandas-UDF exchange, UTC session timezone so results
compare byte-identically against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pheknowlator_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``. ``spark.sql.shuffle.partitions`` is set
    to ~2x parallelism locally; at 100 TB scale this would be sized from
    input bytes / target partition size and AQE coalesces the rest.

    ``spark.sql.codegen.cache.maxEntries`` is raised from Spark's 100 to
    2 000 compiled classes. One warm op of kgbench's ``kg_build`` needs
    274–294 distinct generated classes and a session running all 90
    registered queries ~1 460, so at 100 every class is evicted before its
    next use and each warm op recompiles nearly all of them.
    It is a static conf: it takes effect only in the JVM's first session,
    and ``extra_conf`` can override it there.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"

    # make the package importable inside Python workers regardless of the
    # driver's cwd — local-mode workers inherit PYTHONPATH from this
    # process; on a real cluster ship the package with --py-files instead
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    if shuffle_partitions is None:
        try:
            n = int(cpus)
        except ValueError:
            n = 32
        shuffle_partitions = max(2 * n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # keep AQE partition coalescing active under persisted subtrees —
        # otherwise every shuffle below a .persist() runs at the full
        # spark.sql.shuffle.partitions fan-out regardless of data size
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # hold the generated-class working set (274–294 classes per
        # kg_build op, ~1 460 for all 90 registered queries); static conf,
        # read only by the JVM's first session
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
