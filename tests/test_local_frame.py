"""`session.local_frame`: driver-built frames decoded from Arrow in the JVM.

Parity against `spark.createDataFrame(list)` (values, types, partition count
and row-to-partition layout) for every schema the package builds frames
with, plus a guard that keeps new `createDataFrame(<python rows>)` calls out
of the package and the registry."""

import ast
import datetime
import glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, IntegerType, LongType, StructField, StructType

from lantern_extras_spark.jobs.spec import JOB_SCHEMA, USAGE_SCHEMA
from lantern_extras_spark.operators.autotune import RESULTS_SCHEMA
from lantern_extras_spark.session import local_frame

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_T0 = datetime.datetime(2024, 2, 29, 23, 59, 58, 123456)

# (name, schema, row builder over i) — one case per schema shape used at the
# converted sites
CASES = [
    ("array_double", "query_id long, query_vec array<double>",
     lambda i: (i, [i / 3.0, -1.5, 1e-300])),
    ("array_float", "subvector_id int, centroid_id int, c array<float>",
     lambda i: (i % 4, i, [0.1 * i, 2.5])),
    ("array_long", "id long, neighbors array<long>",
     lambda i: (i, [i, 2 ** 40 + i, -i])),
    ("array_bigint_colon", "w: array<bigint>", lambda i: ([i, -(2 ** 62)],)),
    ("pq_codebook_not_null",
     StructType([
         StructField("subvector_id", IntegerType(), False),
         StructField("centroid_id", IntegerType(), False),
         StructField("c", ArrayType(FloatType(), False), False),
     ]),
     lambda i: (i % 3, i, [float(i), 0.25])),
    ("job_timestamps", JOB_SCHEMA,
     lambda i: (i, "t", "id", None, "hash", "{}", "text", "emb", "m",
                _T0 + datetime.timedelta(seconds=i), _T0, None, None, None, None, None, 0)),
    ("usage_timestamps", USAGE_SCHEMA,
     lambda i: (i, 7, 10 * i, 100 * i, i % 2 == 0, _T0 + datetime.timedelta(days=i))),
    ("autotune_timestamp", RESULTS_SCHEMA,
     lambda i: ("exp", 4, 8, 0.5 + i / 100, 0.01, 1.5, 10, 50, _T0)),
    ("booleans_nulls",
     "query_id long, vec_id long, l2sq_distance double, rnk bigint, "
     "recall_ok boolean, recall double",
     lambda i: (i, None if i % 3 == 0 else i * 7, float(i) / 7, None, i % 2 == 1,
                None if i % 5 == 0 else 1.0)),
    ("strings", "term string, weight double",
     lambda i: (None if i % 4 == 0 else f"tér{i}", 1.0)),
    ("explicit_struct",
     StructType([StructField("id", LongType()), StructField("rank", IntegerType())]),
     lambda i: (i, i + 1)),
]


def _layout(df):
    """Every row with the partition it sits in, in collect order."""
    return df.withColumn("__part", F.spark_partition_id()).collect()


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


@pytest.mark.parametrize("name,schema,row", CASES, ids=[c[0] for c in CASES])
def test_local_frame_matches_create_dataframe(spark, name, schema, row):
    cores = spark.sparkContext.defaultParallelism
    # empty, fewer rows than cores (empty slices), and more rows than cores
    for n in (0, 1, cores + 3 if name == "array_double" else 2 * cores + 1):
        rows = [row(i) for i in range(n)]
        want = spark.createDataFrame(rows, schema)
        got = local_frame(spark, rows, schema)
        assert got.schema == want.schema, (name, n)
        assert got.rdd.getNumPartitions() == want.rdd.getNumPartitions() == cores, (name, n)
        want_layout = _layout(want)
        assert _layout(got) == want_layout, (name, n)
        assert got.collect() == [r[:-1] for r in want_layout], (name, n)
        assert "PythonRDD" not in _lineage(got), (name, n)


def test_list_frame_runs_python_and_local_frame_does_not(spark):
    rows = [(i, [float(i)]) for i in range(50)]
    assert "PythonRDD" in _lineage(spark.createDataFrame(rows, "a long, v array<double>"))
    assert "PythonRDD" not in _lineage(local_frame(spark, rows, "a long, v array<double>"))


def test_local_frame_takes_dict_and_row_input(spark):
    from pyspark.sql import Row

    schema = "a long, s string"
    rows = [{"s": "x", "a": 1}, Row(a=2, s="y")]
    assert local_frame(spark, rows, schema).collect() == (
        spark.createDataFrame(rows, schema).collect()
    )


def test_local_frame_keeps_session_conf(spark):
    key = "spark.sql.execution.arrow.localRelationThreshold"
    before = spark.conf.get(key, None)
    local_frame(spark, [(1,)], "a int").count()
    assert spark.conf.get(key, None) == before


# -- guard: no createDataFrame(<python rows>) outside local_frame ------------


def _create_dataframe_offenders(source: str, filename: str) -> list[str]:
    """`createDataFrame(...)` calls outside `local_frame` whose data argument
    is not an inline `pd.DataFrame(...)` / `pandas.DataFrame(...)`."""
    tree = ast.parse(source, filename)
    out = []

    def is_pandas_frame(node) -> bool:
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "DataFrame"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id in ("pd", "pandas")
        )

    def visit(node, in_local_frame: bool) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            in_local_frame = in_local_frame or node.name == "local_frame"
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
            and not in_local_frame
        ):
            data = node.args[0] if node.args else next(
                (k.value for k in node.keywords if k.arg == "data"), None
            )
            if not is_pandas_frame(data):
                out.append(f"{filename}:{node.lineno}")
        for child in ast.iter_child_nodes(node):
            visit(child, in_local_frame)

    visit(tree, False)
    return out


def test_guard_flags_python_rows_and_allows_pandas():
    src = (
        "import pandas as pd\n"
        "def f(spark, rows):\n"
        "    spark.createDataFrame(rows, 'a int')\n"
        "    spark.createDataFrame([], 'a int')\n"
        "    spark.createDataFrame(pd.DataFrame({'a': [1]}), 'a long')\n"
        "def local_frame(spark, rows, schema):\n"
        "    return spark.createDataFrame(rows, schema)\n"
    )
    assert _create_dataframe_offenders(src, "x.py") == ["x.py:3", "x.py:4"]


def test_no_create_dataframe_from_python_rows():
    files = sorted(glob.glob(os.path.join(ROOT, "lantern_extras_spark", "**", "*.py"), recursive=True))
    files.append(os.path.join(ROOT, "__spark_entry__.py"))
    offenders = []
    for path in files:
        with open(path, encoding="utf-8") as fh:
            offenders += _create_dataframe_offenders(fh.read(), os.path.relpath(path, ROOT))
    assert offenders == [], (
        "driver-built frames go through session.local_frame, which runs no "
        f"Python worker: {offenders}"
    )
