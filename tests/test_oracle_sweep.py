"""Static sweep over EVERY registered oracle SQL string (no Spark needed):
the 40+ queries the driver sampler has never picked get the same hygiene
guarantees as the sampled ones, without waiting for the sampler.

Checks per oracle, all at sf0.01 on DuckDB only (fast):
- the SQL executes and yields a well-formed result
- no DECIMAL128/HUGEINT output column (DuckDB's sum() over INTEGER
  promotes to HUGEINT; pandas/arrow then disagree with Spark's int64 and
  the driver hash mismatches — every integer sum must CAST to BIGINT)
- no timezone-aware or naive TIMESTAMP output column (timestamps must be
  exported as int64 epochs so the comparison is timezone-independent)
- a top-level LIMIT implies an ORDER BY (top-k without a total order is
  nondeterministic across engines)
- running the oracle twice gives identical bytes (no hidden
  nondeterminism — e.g. sampling without a seed)

An oracle that replays a trained-index artifact reads what its Spark
query exported under ``_ART01``, so the query has to run before its
oracle. When no earlier test has run the query, the sweep runs it first
at sf0.01 (the only step here that needs Spark).
"""

from __future__ import annotations

import glob
import re

import duckdb
import pyarrow.types as pat
import pytest

import __spark_entry__ as entry_mod
from comet_spark.session import TABLES
from tests.conftest import SF_DIR_ORACLE

ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()

# queries with no SQL-expressible oracle (driver records rows-only):
# keep this list EXPLICIT so a new query can't silently skip the gate
NO_ORACLE_OK = set()


def test_every_query_has_an_oracle_or_is_allowlisted():
    missing = set(QUERIES) - set(ORACLES) - NO_ORACLE_OK
    assert not missing, (
        f"queries without oracle_sql and not allowlisted: {sorted(missing)}"
    )
    stale = NO_ORACLE_OK - set(QUERIES)
    assert not stale, f"allowlist entries for unknown queries: {sorted(stale)}"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR_ORACLE}/{t}.parquet'")
    return c


def _ensure_artifacts(name: str, sql: str, request) -> None:
    """Run query ``name`` at sf0.01 when an ``_ART01`` file its oracle
    reads does not exist yet (query first, then its oracle)."""
    if any(
        p.startswith(entry_mod._ART01) and not glob.glob(p, recursive=True)
        for p in re.findall(r"read_parquet\('([^']+)'", sql)
    ):
        QUERIES[name](request.getfixturevalue("spark"), SF_DIR_ORACLE).collect()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_static_hygiene(name, con, request):
    sql = ORACLES[name]
    _ensure_artifacts(name, sql, request)

    # LIMIT ⇒ ORDER BY (the whole string; subquery limits inherit the
    # requirement transitively — a limit anywhere without any ordering
    # anywhere is never deterministic)
    if re.search(r"\bLIMIT\b", sql, re.IGNORECASE):
        assert re.search(r"\bORDER\s+BY\b", sql, re.IGNORECASE), (
            f"{name}: LIMIT without ORDER BY"
        )

    rows1 = con.execute(sql).fetchall()
    schema = con.execute(sql).arrow().schema
    for f in schema:
        assert not pat.is_decimal(f.type), (
            f"{name}.{f.name}: {f.type} (HUGEINT) — CAST the sum to BIGINT"
        )
        assert not pat.is_timestamp(f.type) and not pat.is_date(f.type), (
            f"{name}.{f.name}: {f.type} — export epochs as int64, not "
            f"timestamps (timezone-dependent hashing)"
        )

    rows2 = con.execute(sql).fetchall()
    assert sorted(map(repr, rows1)) == sorted(map(repr, rows2)), (
        f"{name}: oracle is nondeterministic across runs"
    )
