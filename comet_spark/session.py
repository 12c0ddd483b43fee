"""SparkSession factory, driver-held rows as local relations, testdata
table loader.

Rule: rows the driver already holds (ids, query vectors, probe tables,
one-row meta/stats records) become a DataFrame through
:func:`local_frame`, never ``spark.createDataFrame(<python list>)``. A
list turns into a pickled RDD that costs one to three Spark jobs every
time the frame is evaluated, even for a single row; the Arrow table
:func:`local_frame` builds plans as a ``LocalTableScan``, which the
driver evaluates with no job at all.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
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


def get_spark(app_name: str = "comet-spark", cpus: str | None = None) -> SparkSession:
    """Build a local SparkSession tuned for the test harness.

    The settings mirror what we'd set on a real cluster: AQE on (runtime
    re-planning, skew-join handling), modest shuffle partitions for local
    mode, Arrow enabled for any pandas-UDF path.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # when events.parquet stores TIMESTAMP(NANOS), read as int64 nanos
        # so time arithmetic is timezone-independent (no-op for MICROS
        # testdata — see __spark_entry__._t's read-side normalization)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """``rows`` (tuples or :class:`Row` s, positional in ``schema``'s field
    order) as a DataFrame over a local relation. ``schema`` is a DDL
    string or a ``StructType``; the result has exactly that schema, also
    for zero rows. Values convert through Arrow, so the frame holds the
    same values ``spark.createDataFrame(rows, schema)`` would, and
    evaluating it (``collect``/``first``/a join's build side) starts no
    Spark job. This path is independent of
    ``spark.sql.execution.arrow.*``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    names = schema.fieldNames()
    cols: list[list] = [[] for _ in names]
    for r in rows:
        if len(r) != len(names):
            raise ValueError(
                f"local_frame: row {r!r} has {len(r)} values, "
                f"schema has {len(names)} fields"
            )
        for c, v in zip(cols, r):
            c.append(v)
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every testdata parquet table under ``sf_dir``."""
    return {t: spark.read.parquet(f"{sf_dir}/{t}.parquet") for t in TABLES}
