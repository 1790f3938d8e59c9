"""Property/unit tests for the scalar kernels against the independent
pure-Python reference model — pins the reference quirks explicitly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oculus_data_pipeline_spark.functions.text import (
    convert_name,
    convert_name_sql,
    generate_uri,
    normalize_term,
    strip_parenthetical,
)

from . import ref_model

NAMES = [
    "Washington, George",            # plain Last, First
    "Steuben, Friedrich Baron von",  # two real titles
    "Madison, James",                # 'Dame'? no — plain
    "Franklin, Benjamin",            # 'in' contains nothing; plain
    "de Lafayette, Marquis",         # leading 'de' + 'marquis' lowercase only
    "Jones, Frederick",              # QUIRK: 'de' inside 'Frederick'
    "Smith, Dr. Jane",               # Dr. title
    "Plain Name",                    # no comma → passthrough
    "Too, Many, Commas",             # 3 parts → passthrough
    "A,B",                           # comma but no ', ' split → passthrough
    "Queen Anne's County, Dame Edna",  # multiple keywords incl inside words
]

TERMS = [
    "  Continental   Army  ",
    "Virginia (state)",
    "mixed CASE Term",
    "(all parenthetical)",
    "tabs\tand\nnewlines",
    "",
]


@pytest.fixture(scope="module")
def kernel_df(spark):
    rows = [(i, n) for i, n in enumerate(NAMES)]
    return spark.createDataFrame(rows, ["id", "name"])


def test_convert_name_matches_reference_model(spark, kernel_df):
    out = {
        r["name"]: r["converted"]
        for r in kernel_df.select("name", convert_name("name").alias("converted")).collect()
    }
    for n in NAMES:
        assert out[n] == ref_model.convert_name(n), n


def test_convert_name_inside_transform_matches_reference_model(spark):
    """convert_name_sql takes any SQL expression, a lambda variable
    too, so it maps over a name array element by element; NULL elements
    stay NULL, [] stays [] and a NULL array stays NULL."""
    arrays = [NAMES, ["Jones, Frederick", None, ""], [], None]
    df = spark.createDataFrame(
        list(enumerate(arrays)), "id int, names array<string>"
    )
    rows = df.select(
        "id", F.expr(f"transform(names, n -> {convert_name_sql('n')})").alias("converted")
    ).orderBy("id").collect()
    for names, r in zip(arrays, rows):
        if names is None:
            assert r["converted"] is None
            continue
        expected = [None if n is None else ref_model.convert_name(n) for n in names]
        assert r["converted"] == expected, names


def test_convert_name_quirks_pinned():
    # substring title match + replace-all + hardcoded ' de ' join
    assert ref_model.convert_name("Jones, Frederick") == "de Frerick de Jones"
    assert (
        ref_model.convert_name("Steuben, Friedrich Baron von")
        == "Baron von Friedrich de Steuben"
    )


def test_normalize_and_strip(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(TERMS)], ["id", "t"])
    rows = df.select(
        "t",
        normalize_term("t").alias("norm"),
        strip_parenthetical("t").alias("stripped"),
    ).collect()
    for r in rows:
        assert r["norm"] == ref_model.normalize(r["t"]), r["t"]
        assert r["stripped"] == ref_model.strip_paren(r["t"]), r["t"]
        # idempotence
        assert ref_model.normalize(r["norm"]) == r["norm"]


def test_generate_uri_matches_and_format(spark):
    vals = ["Washington, George", "mount vernon", "X", "odd  spaces , and,commas"]
    df = spark.createDataFrame([(v,) for v in vals], ["s"])
    rows = df.select("s", generate_uri("s").alias("u")).collect()
    import re

    for r in rows:
        assert r["u"] == ref_model.uri(r["s"]), r["s"]
        assert re.fullmatch(r"r\d{1,8}", r["u"])
