"""Guards for bench.py's driver contract and the query registry."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_bench_top15_line_shape():
    """The second bench line must keep the EXPENSIVE-head evidence
    whatever the driver's tail cut does to the main line: descending
    by time, name-tiebroken (deterministic), capped at 15, sum
    matching its own entries."""
    import bench

    timings = {f"q{i:03d}": float(i % 7) for i in range(1, 41)}
    out = bench.top15_line(timings)
    vals = list(out["top15"].values())
    assert len(vals) == 15
    assert vals == sorted(vals, reverse=True)
    # ties broken by name: equal-valued entries appear in name order
    names = list(out["top15"])
    for a, b in zip(names, names[1:]):
        if out["top15"][a] == out["top15"][b]:
            assert a < b
    assert out["top15_sum"] == round(sum(vals), 3)
    # fewer queries than 15: no padding, no crash
    small = bench.top15_line({"qa": 2.0, "qb": 1.0})
    assert list(small["top15"]) == ["qa", "qb"]


def test_query_registry_has_no_duplicate_registrations():
    """@query raises ValueError on a name that is already registered,
    so a copy-pasted registration cannot silently replace an earlier
    query. Pinned twice: the decorator refuses a duplicate at runtime,
    and statically every @query call site's name literal is unique and
    reached the registry."""
    import ast

    import oculus_data_pipeline_spark.queries as qmod
    from oculus_data_pipeline_spark.queries import ORACLE, QUERIES, query

    taken = next(iter(QUERIES))
    before = (QUERIES[taken], ORACLE.get(taken))
    with pytest.raises(ValueError, match=taken):
        query(taken, oracle="SELECT 1")(lambda spark, sf_dir: None)
    assert (QUERIES[taken], ORACLE.get(taken)) == before

    tree = ast.parse(open(qmod.__file__).read())
    names = [
        dec.args[0].value
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        for dec in node.decorator_list
        if isinstance(dec, ast.Call)
        and getattr(dec.func, "id", "") == "query"
        and dec.args
        and isinstance(dec.args[0], ast.Constant)
    ]
    dupes = sorted({n for n in names if names.count(n) > 1})
    assert not dupes, f"duplicate @query registrations: {dupes}"
    assert len(names) == len(QUERIES)  # every call site reached the dict
    assert set(ORACLE) <= set(QUERIES)
