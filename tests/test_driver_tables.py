"""Driver-built tables, session conf writes, the ingest loop's writes and
the Arrow-batched Python operators.

``session.local_frame`` is the one route from a Python list to a
DataFrame in the library: a JVM-only ``LocalRelation``, so a UDF-free
query never forks ``pyspark.daemon`` or a Python worker. The source
scans below keep every other route (``createDataFrame`` over a list or
RDD, ``parallelize``) out of the package and the query registry, keep
library code from writing session conf, keep the ingest loop
committing only through the snapshot store, and keep ``mapInPandas`` to
its three runners.
"""
from __future__ import annotations

import ast
import math
import os
import struct

import pytest

from smartdatapipeline_spark.session import local_frame

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def test_local_frame_declared_types_and_nulls(spark):
    df = local_frame(
        spark,
        [(1, 2**40, "a", 0.5, [1.0]), (None, None, None, None, None)],
        "i int, l bigint, s string, d double, v array<double>",
    )
    assert df.dtypes == [
        ("i", "int"), ("l", "bigint"), ("s", "string"),
        ("d", "double"), ("v", "array<double>"),
    ]
    assert [tuple(r) for r in df.collect()] == [
        (1, 2**40, "a", 0.5, [1.0]),
        (None, None, None, None, None),
    ]


def test_local_frame_int_overflow_raises(spark):
    # pyarrow's ArrowInvalid is a ValueError
    with pytest.raises(ValueError, match="too large"):
        local_frame(spark, [(2**31,)], "i int")


def test_local_frame_empty_rows(spark):
    df = local_frame(spark, [], "id long, name string")
    assert df.dtypes == [("id", "bigint"), ("name", "string")]
    assert df.collect() == []


def test_local_frame_array_double_bits_exact(spark):
    vals = [
        0.1, -0.0, 1e-320, 5e-324, 1.7976931348623157e308,
        float("inf"), float("-inf"), 2.0 / 3.0, None,
    ]
    got = local_frame(spark, [(7, vals)], "k int, v array<double>").first()["v"]
    assert len(got) == len(vals)
    for g, w in zip(got, vals):
        assert (g is None and w is None) or _bits(g) == _bits(w)
    nan = local_frame(spark, [(float("nan"),)], "d double").first()["d"]
    assert math.isnan(nan)


def test_local_frame_lineage_has_no_python_rdd(spark):
    df = local_frame(
        spark,
        [(j, i, [float(i), float(j)]) for j in range(4) for i in range(64)],
        "sub int, cent_id int, _cv array<double>",
    )
    qe = df._jdf.queryExecution()
    assert qe.optimizedPlan().nodeName() == "LocalRelation"
    joined = df.join(df.select("sub").distinct(), "sub")
    lineage = joined._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage
    assert joined.count() == 256


def _method_calls(path: str, wanted: set[str]) -> list[tuple[str, int, str]]:
    """(enclosing function, line, method) of every call in ``path`` whose
    method, spelled ``name`` or ``owner.name`` (``conf.set``), is in
    ``wanted``."""
    tree = ast.parse(open(path).read(), filename=path)
    found: list[tuple[str, int, str]] = []

    def visit(node: ast.AST, func: str) -> None:
        for child in ast.iter_child_nodes(node):
            name = func
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            if isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute):
                owner = child.func.value
                owner = getattr(owner, "attr", getattr(owner, "id", ""))
                for method in (child.func.attr, f"{owner}.{child.func.attr}"):
                    if method in wanted:
                        found.append((func, child.lineno, method))
            visit(child, name)

    visit(tree, "<module>")
    return found


def _scan(wanted: set[str], allowed: set[tuple[str, str, str]]):
    """(allowed calls seen, offenders) over the package and the query
    registry (``__spark_entry__.py``)."""
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for dirpath, _, names in os.walk(os.path.join(ROOT, "smartdatapipeline_spark")):
        files += [os.path.join(dirpath, n) for n in names if n.endswith(".py")]
    seen, offenders = set(), []
    for path in files:
        rel = os.path.relpath(path, ROOT)
        for func, line, method in _method_calls(path, wanted):
            if (rel, func, method) in allowed:
                seen.add((rel, func, method))
            else:
                offenders.append(f"{rel}:{line} {method}( in {func}")
    return seen, offenders


def test_driver_tables_only_through_local_frame():
    allowed = {("smartdatapipeline_spark/session.py", "local_frame", "createDataFrame")}
    seen, offenders = _scan({"createDataFrame", "parallelize"}, allowed)
    assert seen == allowed, "the scan no longer finds local_frame's own call"
    assert not offenders, (
        "driver-side tables must go through session.local_frame "
        "(a PythonRDD forks pyspark.daemon and workers): " + ", ".join(offenders)
    )


def test_only_read_events_writes_session_conf():
    """Session conf is shared by every plan on the session, so a library
    call that writes it leaks into concurrent callers. The loops leave
    shuffle sizing to AQE (``session.get_spark``); ``read_events`` alone
    pins the two settings a session not built by ``get_spark`` needs to
    read the events table."""
    allowed = {("smartdatapipeline_spark/session.py", "read_events", "conf.set")}
    seen, offenders = _scan({"conf.set"}, allowed)
    assert seen == allowed, "the scan no longer finds read_events' own writes"
    assert not offenders, "library code writes session conf: " + ", ".join(offenders)


#: every way to start a ``DataFrameWriter`` chain, spelled as the scan
#: sees it (``df.write.mode(...)`` is ``write.mode``)
_WRITER_CALLS = {
    f"write.{m}"
    for m in (
        "mode", "format", "option", "options", "partitionBy", "bucketBy",
        "sortBy", "save", "saveAsTable", "insertInto", "parquet", "csv",
        "json", "orc", "text",
    )
} | {"writeTo"}


def test_ingest_loop_commits_only_through_the_snapshot_store():
    """The batch ingest (``operators/pipeline.py``) and the streaming
    ingest (``streaming/ingest.py``) are one loop, and it commits silver,
    gold and the dead-letter table only through the snapshot store: no
    ``DataFrameWriter`` call of its own."""
    loop = (
        "smartdatapipeline_spark/operators/pipeline.py",
        "smartdatapipeline_spark/streaming/ingest.py",
    )
    _, offenders = _scan(_WRITER_CALLS, set())
    assert any(
        o.startswith("smartdatapipeline_spark/sources/snapstore.py")
        for o in offenders
    ), "the scan no longer finds the snapshot store's own writer"
    in_loop = [o for o in offenders if o.startswith(loop)]
    assert not in_loop, "the ingest loop writes around the snapshot store: " + ", ".join(in_loop)


def test_arrow_batched_python_only_through_the_three_runners():
    """A pandas-UDF operator forks Python workers and round-trips every
    row through Arrow, so each one is written once: the blob kernel
    every multimodal decoder runs through, the Misra-Gries partial, and
    the registry's one encoder of synthetic media blobs."""
    allowed = {
        ("smartdatapipeline_spark/functions/multimodal.py", "_map_blobs", "mapInPandas"),
        ("smartdatapipeline_spark/functions/sketch.py", "misra_gries_partial", "mapInPandas"),
        ("__spark_entry__.py", "_encoded_blobs", "mapInPandas"),
    }
    seen, offenders = _scan({"mapInPandas"}, allowed)
    assert seen == allowed, "the scan no longer finds a runner's own call"
    assert not offenders, "mapInPandas outside the three runners: " + ", ".join(offenders)
