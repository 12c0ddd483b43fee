"""Driver-held rows as local relations (``session.local_frame``)."""

import ast
import pathlib

import pytest

from comet_spark.session import local_frame

_TYPES_SCHEMA = (
    "i int, b bigint, d double, s string, ad array<double>, "
    "ab array<bigint>, aad array<array<double>>"
)
_TYPES_ROWS = [
    (1, 2**40, 1.5, "x", [0.25, -1.0], [3, 2**35], [[1.0], [2.0, 3.0]]),
    (None, None, None, None, None, None, None),
    (-7, -1, float("inf"), "", [], [], [[]]),
]


def _jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("idle", "idle")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_local_frame_starts_no_job(spark):
    """Evaluating driver-held rows on the driver runs no Spark job (a
    ``createDataFrame(list)`` frame runs one to three per evaluation)."""
    df = local_frame(spark, _TYPES_ROWS, _TYPES_SCHEMA)
    assert _jobs(spark, "lf-collect", df.collect) == 0
    assert _jobs(spark, "lf-first", df.first) == 0
    one = local_frame(spark, [(3.0, 1.5, 4.5)], "n double, a double, t double")
    assert _jobs(spark, "lf-one", one.first) == 0


@pytest.mark.parametrize("rows", [_TYPES_ROWS, []], ids=["rows", "empty"])
def test_local_frame_matches_create_dataframe(spark, rows):
    want = spark.createDataFrame(rows, _TYPES_SCHEMA)
    got = local_frame(spark, rows, _TYPES_SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    # a StructType schema, Row input (collected rows round-trip)
    again = local_frame(spark, got.collect(), want.schema)
    assert again.schema == want.schema
    assert again.collect() == want.collect()


def test_local_frame_rejects_ragged_rows(spark):
    with pytest.raises(ValueError):
        local_frame(spark, [(1, "a"), (2,)], "id bigint, s string")


def _create_dataframe_calls(tree: ast.AST):
    """``createDataFrame(...)`` calls in a module, by line."""
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            yield node.lineno


def test_no_create_dataframe_on_driver_rows():
    """Driver-held rows reach Spark through ``local_frame``: no module
    under comet_spark/ calls ``createDataFrame`` except the helper."""
    root = pathlib.Path(__file__).resolve().parent.parent / "comet_spark"
    found = []
    for path in sorted(root.rglob("*.py")):
        lines = list(_create_dataframe_calls(ast.parse(path.read_text())))
        if path.name == "session.py":
            assert len(lines) == 1, lines  # local_frame's Arrow call
            continue
        found.extend(f"{path.relative_to(root)}:{n}" for n in lines)
    assert not found, found
