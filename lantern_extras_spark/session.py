"""SparkSession factory with scale-appropriate defaults.

Local testing runs on local[N]; the same config block is what we would ship for a
multi-executor cluster — AQE handles runtime re-planning (skew joins, coalescing
shuffle partitions), Arrow makes the pandas-UDF hot paths cheap, and UTC keeps
timestamp semantics identical to the DuckDB correctness oracle.
"""

from __future__ import annotations

import os
import tempfile
import threading
import zipfile
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _write_package_zip(zpath: str) -> None:
    """Zip `lantern_extras_spark/` to `zpath`, atomically: the archive is
    written under a unique name in the same directory and `os.replace`d into
    place, so a reader (another driver on this host sharing TMPDIR) sees
    either the old complete archive or the new one, never a partial write."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    fd, tmp = tempfile.mkstemp(
        prefix=os.path.basename(zpath) + ".", suffix=".tmp", dir=os.path.dirname(zpath)
    )
    try:
        with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for f in files:
                    # .txt rides along for data files the package loads at runtime
                    # (e.g. functions/bpe_vocab.txt — executors resolve it relative
                    # to the module path inside the shipped zip)
                    if f.endswith((".py", ".txt")):
                        full = os.path.join(root, f)
                        rel = os.path.join("lantern_extras_spark", os.path.relpath(full, pkg_dir))
                        zf.write(full, rel)
        os.replace(tmp, zpath)
    except BaseException:
        os.unlink(tmp)
        raise


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors regardless of driver cwd.

    Zips `lantern_extras_spark/` once per session and `addPyFile`s it — the
    standard deployment path for python deps on a real cluster; required so
    cloudpickled mapInPandas/pandas_udf closures can resolve module references
    in worker processes."""
    if getattr(spark, "_lantern_pkg_shipped", False):
        return
    zpath = os.path.join(tempfile.gettempdir(), "lantern_extras_spark_pkg.zip")
    _write_package_zip(zpath)
    spark.sparkContext.addPyFile(zpath)
    spark._lantern_pkg_shipped = True


_LOCAL_RELATION_THRESHOLD = "spark.sql.execution.arrow.localRelationThreshold"
_local_frame_lock = threading.Lock()


def local_frame(spark: SparkSession, rows: Iterable[Any], schema: StructType | str) -> DataFrame:
    """A DataFrame over rows held on the driver that runs no Python worker.

    Drop-in for `spark.createDataFrame(rows, schema)` with the same values,
    types, partition count and row-to-partition layout. That call pickles the
    rows into a PythonRDD, and every action on the frame then forks one Python
    worker per partition (defaultParallelism of them), which Spark does not
    reuse. Here the rows become Arrow record batches, one per partition, that
    the JVM decodes itself.

    `schema` is a DDL string or a StructType. The batches are handed to the
    JVM the way `createDataFrame(pyarrow.Table)` does it, minus two of its
    choices: it drops empty batches (fewer partitions than the list path when
    there are fewer rows than cores), and below
    `spark.sql.execution.arrow.localRelationThreshold` it builds a
    LocalRelation, with its own partition count and size statistics (which
    change join planning). The
    threshold is set to 0 for the call so the JVM always builds the
    RDD-backed relation the list path gives."""
    import pyarrow as pa
    from pyspark.sql.pandas.serializers import ArrowStreamSerializer
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _create_converter, _parse_datatype_string

    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    # the list path's conversion: dict/Row → tuple, datetime → epoch micros
    # (naive datetimes read in the process's local zone), date → epoch days
    internal = [struct.toInternal(r) for r in map(_create_converter(struct), rows)]
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*internal)) if internal else [()] * len(struct.fields)
    batch = pa.RecordBatch.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    # sc.parallelize's layout: rows go in chunks of `size`, and the chunks
    # are split evenly over defaultParallelism slices (some may be empty)
    n, slices = len(internal), spark.sparkContext.defaultParallelism
    size = max(1, min(n // slices, 1024))
    n_chunks = -(-n // size)
    bounds = [min(n, i * n_chunks // slices * size) for i in range(slices + 1)]
    batches = [batch.slice(lo, hi - lo) for lo, hi in zip(bounds, bounds[1:])]

    jvm = spark._jvm
    with _local_frame_lock:
        prev = spark.conf.get(_LOCAL_RELATION_THRESHOLD, None)
        spark.conf.set(_LOCAL_RELATION_THRESHOLD, "0")
        try:
            jiter = spark.sparkContext._serialize_to_jvm(
                batches,
                ArrowStreamSerializer(),
                jvm.PythonSQLUtils.readArrowStreamFromFile,
                jvm.ArrowIteratorServer,
            )
            jdf = jvm.PythonSQLUtils.toDataFrame(jiter, struct.json(), spark._jsparkSession)
        finally:
            if prev is None:
                spark.conf.unset(_LOCAL_RELATION_THRESHOLD)
            else:
                spark.conf.set(_LOCAL_RELATION_THRESHOLD, prev)
    return DataFrame(jdf, spark)


def get_spark(app_name: str = "lantern-extras-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Settings that matter at 100 TB just as much as on local[32]:
    - AQE on: runtime shuffle-partition coalescing + skew-join splitting.
    - Arrow on: every pandas UDF / toPandas crosses the JVM/Python boundary in
      columnar batches instead of pickled rows.
    - session timezone UTC: deterministic timestamp arithmetic (matches oracle).
    - parquet filter pushdown + vectorized reader stay on (defaults, made explicit).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # r13 (guide §3.1, measured): a GLOBAL preferSortMergeJoin=false was
        # tried and REVERTED — paired in-session A/B over the SMJ-carrying
        # bench queries was neutral-to-noisy (0.82-1.17x medians, mins ~1.0)
        # while the one real winner (salted_join, 0.39x isolated) gets an
        # explicit SHUFFLE_HASH hint at its call site instead: the join whose
        # build side is bounded BY CONSTRUCTION is hinted; everything else
        # keeps the planner default (preferSortMergeJoin=true).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None) -> dict:
    """Load the standard parquet tables of a test scale-factor directory.

    `events` is read with nanosAsLong and normalized by `events_ts`."""
    names = names or (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    )
    out = {}
    for n in names:
        if n == "events":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            out[n] = events_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
        else:
            out[n] = spark.read.parquet(f"{sf_dir}/{n}.parquet")
    return out


def events_ts(ev: DataFrame) -> DataFrame:
    """`ev` (an events parquet scan) with `ts` as a microsecond TIMESTAMP.

    Some testdata generations store events.ts as TIMESTAMP(NANOS), which
    Spark's vectorized reader rejects — the caller reads it with
    `spark.sql.legacy.parquet.nanosAsLong=true` and the long nanos are
    truncated to microseconds here (bit-identical to DuckDB's ns→us cast).
    Newer generations store plain micros, which read as TIMESTAMP_NTZ;
    consumers call unix_micros (TIMESTAMP only), and with the session tz at
    UTC the NTZ→TIMESTAMP cast is value-preserving."""
    from pyspark.sql import functions as F

    if dict(ev.dtypes)["ts"] in ("bigint", "long"):
        return ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return ev.withColumn("ts", F.col("ts").cast("timestamp"))
