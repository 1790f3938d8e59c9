"""The main correctness gate, run locally at sf0.001 (the driver runs
the same comparison at sf0.01). Every registered query with an oracle
must match DuckDB exactly — count, schema, and values."""

from __future__ import annotations

import pytest

from oculus_data_pipeline_spark.queries import get_oracle_sql, get_queries

from .oracle_harness import compare, duckdb_conn

QUERIES = get_queries()
ORACLE = get_oracle_sql()


@pytest.fixture(scope="module")
def conn(sf_dir):
    c = duckdb_conn(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_oracle_match(name, spark, sf_dir, conn):
    df = QUERIES[name](spark, sf_dir)
    problems = compare(df, conn, ORACLE[name], name)
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLE)))
def test_rows_only(name, spark, sf_dir):
    from .oracle_harness import decimal_columns

    df = QUERIES[name](spark, sf_dir)
    bad = decimal_columns(df)
    assert not bad, f"{name} emits DECIMAL final columns {bad} — hash-unportable"
    assert df.count() > 0, f"{name} returned 0 rows — vacuous rows-only pass"


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_oracle_not_vacuous(name, conn, sf_dir):
    """Registry-wide guard against vacuous green: a query whose oracle
    returns 0 rows at sf0.001 'hash-matches' an empty result and proves
    nothing (this class slipped through in rounds 1 and 3 — q05/q11/q51
    and then q68).  Uses the DuckDB oracle alone, so the whole sweep is
    cheap; a hash-matching Spark side necessarily has the same count.

    The guard is an sf0.001/sf0.01 FIXTURE invariant, not a query
    property: at other scale factors a selective filter can be
    legitimately empty on both engines (q162's k-anonymity violations
    and q69's qualifying stock vanish at sf0.1), so the sweep skips
    there — non-vacuousness is already proven at the two SFs where
    the fixture guarantees rows."""
    if not sf_dir.rstrip("/").endswith(("sf0.001", "sf0.01")):
        pytest.skip("vacuous-guard is an sf0.001/sf0.01 fixture invariant")
    n = len(conn.execute(ORACLE[name]).fetchall())
    assert n > 0, f"{name} oracle returns 0 rows at {sf_dir} — vacuous pass"


def test_registry_names_are_well_formed():
    """Every registry key is a qNNN_* name and every oracle key has a
    query — guards the editing failure mode where a list edit clobbers
    a nearby @query decorator's name argument and silently registers
    the ORACLE SQL STRING as the query name (happened twice in round
    4; both caught by ad-hoc checks, now pinned)."""
    import re

    for name in QUERIES:
        assert re.fullmatch(r"q\d+_[a-z0-9_]+", name), f"malformed: {name!r}"
    assert set(ORACLE) <= set(QUERIES)


def test_attestation_window_is_well_formed():
    """The driver attests the first 50 names get_queries() returns, an
    order derived from the CORRECTNESS_r*.json records in the repo
    root. A wrong records path would not fail anything by itself — the
    order would silently fall back to alphabetical — so pin that every
    record file loads and that the window is not the fallback."""
    import glob
    import os

    from oculus_data_pipeline_spark.queries import _load_records

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
    assert files and len(_load_records()) == len(files)
    window = list(QUERIES)[:50]
    assert window != sorted(QUERIES)[:50], "records ignored: alphabetical window"


def test_attestation_order_ranks_stalest_first():
    """The rule on synthetic records: a query whose latest driver row
    fails, or that has no row, ranks first; the rest rank by their
    latest green round, oldest first, ties by name. An oracle-less
    query (q46) is green on the driver's rows-only 'no_oracle' row."""
    from oculus_data_pipeline_spark.queries import ORACLE, _stalest_first

    green = {"rows_match": True, "schema_match": True, "hash_match": True}
    failed = {"rows_match": True, "schema_match": True, "hash_match": False}
    rows_only = {"spark_rows": 3, "err": "no_oracle"}
    q01, q02, q03, q06, q07, q46 = (
        "q01_pricing_summary",
        "q02_shipping_priority",
        "q03_region_revenue",
        "q06_top_customers_per_nation",
        "q07_running_order_totals",
        "q46_approx_distinct",
    )
    assert q46 not in ORACLE and {q01, q02, q03, q06, q07} <= set(ORACLE)
    rounds = {
        1: {q01: green, q02: failed, q03: green, q06: green, q46: rows_only},
        2: {q02: green, q03: failed, q46: rows_only},
        3: {q06: green},
    }
    names = [q46, q07, q06, q03, q02, q01]
    assert _stalest_first(names, rounds) == [q03, q07, q01, q02, q46, q06]
    assert _stalest_first(names, {}) == sorted(names)


def test_oracle_output_types_are_hash_portable(conn):
    """Registry-wide kill of the HUGEINT class (r4: q201's windowed
    SUM, r5 audit also caught q202's knn_mean ppm columns): an oracle
    output column DuckDB types as HUGEINT/UHUGEINT renders differently
    from Spark's LONG in the driver's hash pipeline even when every
    value is identical, so the repo rule is a final BIGINT cast on any
    SUM-/window-derived column. Widened after r5 to reject ANY DECIMAL
    final column as well: q145's DECIMAL(38,0) digest and q148's
    iterate — the only two DECIMAL-typed final columns in the registry
    — were the only two r5 driver hash-fails despite exact values at
    three SFs. Final columns may only be BIGINT/DOUBLE/VARCHAR/BOOL/
    DATE/TIMESTAMP (the Spark mirror of this rule lives in
    oracle_harness.compare / test_rows_only). LIMIT-0 type probe — no
    data compared, the whole sweep is milliseconds per oracle."""
    offenders = {}
    for name in sorted(ORACLE):
        rel = conn.sql(f"SELECT * FROM ({ORACLE[name]}) LIMIT 0")
        bad = {
            c: str(t)
            for c, t in zip(rel.columns, rel.types)
            if str(t) in ("HUGEINT", "UHUGEINT")
            or str(t).startswith("DECIMAL")
        }
        if bad:
            offenders[name] = bad
    assert not offenders, f"hash-unportable oracle output types: {offenders}"
