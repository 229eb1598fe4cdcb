"""schema.local_frame: driver rows → Arrow-built LocalRelation.

Parity with the ``spark.createDataFrame(list)`` frames it replaces, for
every schema the package routes through it, and a guard that no other
product code turns Python rows into a DataFrame."""

from __future__ import annotations

import ast
import pathlib

import pytest

from kafka_backup_spark.manifest_store import MANIFEST_SCHEMA
from kafka_backup_spark.schema import local_frame
from kafka_backup_spark.streaming.metrics import PROGRESS_SCHEMA

MAX = 2**63 - 1

# (schema, rows) for each product-side call site, each with null cells,
# non-ASCII topic names and longs at ±(2⁶³−1)
CASES = {
    "manifest": (MANIFEST_SCHEMA, [
        ("click", 0, "click/0/0", 0, 999, -MAX, MAX, 1000, MAX, -MAX),
        ("tópico-ü", 3, "tópico-ü/3/0", -MAX, MAX, None, None, 0, None, 7),
        ("日本語", None, None, None, None, None, None, None, None, None),
    ]),
    "watermarks": ("topic string, partition int, earliest long, latest long", [
        ("click", 0, -MAX, MAX),
        ("тема", 1, None, -1),
        (None, None, None, None),
    ]),
    "groups": ("group_id string, topic string, partition int, offset long", [
        ("g1", "click", 0, MAX),
        ("grüppe", "话题", 2_147_483_647, -MAX),
        ("g3", None, None, None),
    ]),
    "progress": (PROGRESS_SCHEMA, [
        ("q-1", 0, MAX, 1.5, 2.25, -MAX),
        ("q-ß", None, None, None, None, None),
    ]),
    "latencies": ("latency_ms double", [(0.0,), (12.5,), (None,), (-1e300,)]),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_local_frame_matches_create_dataframe(spark, name):
    schema, rows = CASES[name]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


@pytest.mark.parametrize("name", sorted(CASES))
def test_local_frame_empty_keeps_schema(spark, name):
    schema, _rows = CASES[name]
    got = local_frame(spark, [], schema)
    assert got.schema == spark.createDataFrame([], schema).schema
    assert got.collect() == []


# -- guard: Python rows reach a DataFrame only through local_frame -----------

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "kafka_backup_spark"
# catalog inputs: their frames are pinned by the query bodies and oracles
EXEMPT = ("queries/", "multimodal.py")
ALLOWED = {("schema.py", "local_frame")}


def create_dataframe_calls(source: str) -> list[str]:
    """Names of the innermost functions that call ``*.createDataFrame``
    (``<module>`` at top level)."""
    found: list[str] = []

    def walk(node: ast.AST, scope: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scope = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            found.append(scope)
        for child in ast.iter_child_nodes(node):
            walk(child, scope)

    walk(ast.parse(source), "<module>")
    return found


def test_guard_finds_create_dataframe_calls():
    src = (
        "def f(spark):\n"
        "    return spark.createDataFrame([(1,)], 'a int')\n"
        "rows = spark.createDataFrame([], 'a int')\n"
    )
    assert create_dataframe_calls(src) == ["f", "<module>"]


def test_python_rows_reach_dataframes_only_through_local_frame():
    calls = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel.startswith(EXEMPT):
            continue
        calls |= {(rel, fn) for fn in create_dataframe_calls(path.read_text())}
    assert calls == ALLOWED, (
        f"createDataFrame outside schema.local_frame: {sorted(calls - ALLOWED)}"
    )
