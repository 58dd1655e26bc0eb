"""SparkSession factory with engine-tuned defaults."""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType


def ensure_package_on_workers(spark: SparkSession | None = None) -> None:
    """Ship oshdb_spark to executor Pythons via addPyFile (idempotent).

    Engine pandas UDFs reference module functions; workers deserialize them
    by importing the module, which fails when the driver was launched from
    outside the repo (no PYTHONPATH).  Equivalent of `spark-submit
    --py-files dist/oshdb_spark.zip`, done lazily for embedded use.
    """
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        return
    sc = spark.sparkContext
    if getattr(sc, "_oshdb_spark_shipped", False):
        return
    import oshdb_spark

    pkg_dir = os.path.dirname(os.path.abspath(oshdb_spark.__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), f"oshdb_spark_auto_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for root, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(
                            "oshdb_spark", os.path.relpath(full, pkg_dir)
                        )
                        z.write(full, rel)
    sc.addPyFile(zpath)
    sc._oshdb_spark_shipped = True


def local_frame(
    spark: SparkSession, rows, schema: str | StructType
) -> DataFrame:
    """A small driver-side constant frame, planned as a JVM ``LocalTableScan``.

    ``spark.createDataFrame(<python list>)`` plans a ``Scan ExistingRDD``
    over a PythonRDD, so every execution of the query starts Python
    worker tasks just to unpickle the rows.  Here the rows become a
    ``pyarrow.Table`` typed from ``schema`` (a DDL string or a
    StructType) and cross to the JVM once, when the frame is built, as a
    ``LocalRelation``; PySpark takes that Arrow path for a table whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says.  Rows are tuples
    in field order; values are checked against the field types (an int
    out of an ``int`` column's range raises), as ``createDataFrame`` does.
    This is the engine's one constructor of list-backed frames.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    rows = list(rows)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)


# ~2.5x the distinct codegen classes of one process running every AOI
# query type (get_spark docstring)
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "oshdb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Tuned local session.

    Defaults follow the scale playbook: AQE on (runtime coalesce + skew-join
    splitting — the engine's dense-city cells are deliberately skewed), Arrow
    for all pandas-UDF exchange, shuffle partitions sized to cores (not 200).
    On a real cluster the same conf applies per-executor; nothing here is
    local-mode-specific except the master URL.

    Each query's plan is compiled once, not per run:

    * The whole-stage codegen cache holds ``CODEGEN_CACHE_ENTRIES``
      compiled classes, not Spark's default 100.  One unfiltered bbox
      contribution query compiles about 175 classes with Janino, and one
      process running every AOI query type (snapshot bbox and polygon,
      contribution, kNN, zonal) about 400 distinct ones.  At 100 entries
      a repeated contribution query recompiled 174 of its classes (about
      9 ms each) and evicted the other types' classes, so a warm round of
      the five types compiled about 320.  The cache is a static conf: it
      takes effect only when this call creates the session.
    * Generated classes are not named after their codegen stage id
      (``spark.sql.codegen.useIdInClassName``).  The cache is keyed by
      the source, and adaptive execution numbers a plan's stages in the
      order they are planned, which varies from run to run; with the id
      in the name an identical stage missed the cache whenever its
      number changed (a repeated contribution query still compiled up to
      26 of 233 classes), and two identical stages of one plan compiled
      twice.

    Adaptive execution may coalesce the last shuffle of a cached plan
    (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``).  An
    ``OSHDB`` handle caches its contribution states, whose plans end in
    a shuffle started at ``initialPartitionNum`` (at least 128 here)
    partitions.  Spark's default keeps all of them: each later query
    then scans that many small partitions per entity kind and runs its
    AOI clip UDF in as many Python tasks.  On a 120-feature docs world
    (``local[4]``) a warm bbox contribution count ran 1,188 tasks in
    20 s with Spark's default, and 45 tasks in 2.1-2.5 s with
    coalescing.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus * 2, 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # spill-aware partition sizing without per-job tuning: AQE starts
        # each shuffle at 4x the target partition count and coalesces down
        # to size, so a 10x-bigger input gets proportionally more (smaller)
        # partitions instead of spilling through a fixed count (the 16M-doc
        # lesson in BENCH.md section 0).  SPARK_GRAFT_AQE_INIT_PARTS
        # overrides (used by the A/B smear check in BENCH.md section 1).
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get(
                "SPARK_GRAFT_AQE_INIT_PARTS",
                str(max(shuffle_partitions * 4, 128)),
            ),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
