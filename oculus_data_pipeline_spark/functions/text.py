"""Scalar text kernels — the semantic heart of the reference pipeline,
re-expressed as pure Spark Column expressions (JVM-side, whole-stage
codegen; no Python UDFs anywhere here).

Reference parity (file:line in /root/reference/):
- ``normalize_term``  ← xml_to_json.py:7-14 / json_classification.py:70-77
- ``strip_parenthetical`` ← xml_to_json.py:34-36
- ``generate_uri``    ← generate_uri.py:5-26
- ``convert_name``    ← json_classification.py:40-67 (including its quirks,
  see below — reproduced faithfully so outputs are oracle-checkable).

Each kernel also ships a DuckDB-SQL oracle generator so the driver can
verify value-for-value equivalence.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalize_term(c: Column | str) -> Column:
    """Collapse internal whitespace, trim, lowercase.

    The join-key normalizer used everywhere in the reference
    (xml_to_json.py:7-14). Idempotent.
    """
    c = F.col(c) if isinstance(c, str) else c
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def normalize_term_oracle_sql(expr: str) -> str:
    return f"lower(trim(regexp_replace({expr}, '\\s+', ' ', 'g')))"


def strip_parenthetical(c: Column | str) -> Column:
    """Remove ``(...)`` spans (non-greedy) then strip — xml_to_json.py:34-36.

    Python's str.strip() removes ALL whitespace (tabs/newlines too);
    SQL trim() is space-only — so the strip is a regexp on both sides.
    """
    c = F.col(c) if isinstance(c, str) else c
    return F.regexp_replace(
        F.regexp_replace(c, r"\(.*?\)", ""), r"^\s+|\s+$", ""
    )


def strip_parenthetical_oracle_sql(expr: str) -> str:
    return (
        f"regexp_replace(regexp_replace({expr}, '\\(.*?\\)', '', 'g'),"
        f" '^\\s+|\\s+$', '', 'g')"
    )


def generate_uri(c: Column | str) -> Column:
    """Deterministic hash surrogate key ("URI") — generate_uri.py:5-26.

    lower → drop spaces and commas → sha256 hex → int(hex[:8], 16)
    → % 100_000_000 → prefix ``'r'``. Pure JVM expression:
    ``conv(substring(sha2(s,256),1,8),16,10)`` parses the hex.
    """
    c = F.col(c) if isinstance(c, str) else c
    cleaned = F.regexp_replace(F.lower(c), r"[ ,]", "")
    hash_int = (
        F.conv(F.substring(F.sha2(cleaned, 256), 1, 8), 16, 10).cast("long")
        % 100000000
    )
    return F.concat(F.lit("r"), hash_int.cast("string"))


def generate_uri_oracle_sql(expr: str) -> str:
    """DuckDB equivalent. DuckDB has sha256() but no hex→int conversion,
    so the 8 hex chars are parsed positionally with integer arithmetic.
    """
    cleaned = f"regexp_replace(lower({expr}), '[ ,]', '', 'g')"
    h = f"sha256({cleaned})"
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1)::BIGINT * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"'r' || CAST((({terms}) % 100000000) AS VARCHAR)"


# json_classification.py:52 — checked in list order, SUBSTRING match
# (not word-boundary), str.replace-all semantics. Order matters.
TITLE_KEYWORDS = [
    "Baron", "Sir", "Dr.", "Lord", "Dame", "Count", "Countess", "King",
    "Queen", "Prince", "Princess", "Duke", "Duchess", "marquis",
    "marchioness", "von", "de",
]


def convert_name(c: Column | str) -> Column:
    """'Last, First' → 'First Last' / '{titles} {rest} de {Last}'.

    Faithful reproduction of json_classification.py:40-67 including its
    quirks, which we preserve deliberately (documented reference
    behavior, pinned by tests):

    - Only applies when the name contains ',' AND splitting on ', '
      yields exactly 2 parts; otherwise passthrough (NULL stays NULL).
    - Title keywords match as SUBSTRINGS ("de" matches inside
      "Frederick") and are removed via replace-all, then strip; later
      keywords test against the already-mutated remainder.
    - When any title matched, output is ``"{titles} {rest} de {last}"``
      — the hardcoded " de " of json_classification.py:66.

    Implemented as one ``aggregate`` fold over the title keywords whose
    state is ``struct(titles, rest)``: each step reads the remainder
    through the lambda variable, so the expression stays linear in the
    keyword count (an inlined fold would duplicate the remainder
    subtree per step). A plain Column, so it also runs inside
    ``transform`` over a name array. Pure JVM expressions.
    """
    c = F.col(c) if isinstance(c, str) else c
    parts = F.split(c, ", ", -1)
    last = F.element_at(parts, 1)

    def step(acc: Column, kw: Column) -> Column:
        return F.when(
            acc["rest"].contains(kw),
            F.struct(
                F.concat(acc["titles"], F.array(kw)).alias("titles"),
                # Python str.strip() semantics (all whitespace), not SQL trim
                F.regexp_replace(
                    F.replace(acc["rest"], kw, F.lit("")), r"^\s+|\s+$", ""
                ).alias("rest"),
            ),
        ).otherwise(acc)

    def finish(acc: Column) -> Column:
        return F.when(
            F.size(acc["titles"]) == 0, F.concat(acc["rest"], F.lit(" "), last)
        ).otherwise(
            F.concat(
                F.array_join(acc["titles"], " "), F.lit(" "), acc["rest"],
                F.lit(" de "), last,
            )
        )

    converted = F.aggregate(
        F.array(*[F.lit(kw) for kw in TITLE_KEYWORDS]),
        F.struct(
            F.array().cast("array<string>").alias("titles"),
            # get() is NULL-safe out of range; the fold only runs where
            # the split has exactly 2 parts anyway
            F.get(parts, 1).alias("rest"),
        ),
        step,
        finish,
    )
    return F.when(c.contains(",") & (F.size(parts) == 2), converted).otherwise(c)


def with_converted_name(df: DataFrame, name_col: str, out_col: str) -> DataFrame:
    """``df`` plus ``out_col`` = :func:`convert_name` of ``name_col``:
    one ``aggregate`` fold over the title keywords, one projection."""
    return df.withColumn(out_col, convert_name(name_col))


def convert_name_oracle_query(
    source_sql: str, id_cols: list[str], name_col: str, out_col: str
) -> str:
    """DuckDB equivalent of :func:`convert_name` as a full query over
    ``source_sql`` (which must yield ``id_cols`` + ``name_col``). A
    linear 17-step CTE chain, one step per title keyword."""
    keep = ", ".join([*id_cols, name_col])
    parts = f"str_split({name_col}, ', ')"
    steps = [
        f"s0 AS (SELECT {keep}, "
        f"(strpos({name_col}, ',') > 0 AND len({parts}) = 2) AS cn_applies, "
        f"list_extract({parts}, 1) AS cn_last, "
        f"list_extract({parts}, 2) AS cn_rest, "
        f"'' AS cn_titles FROM src)"
    ]
    for i, kw in enumerate(TITLE_KEYWORDS, start=1):
        kw_sql = kw.replace("'", "''")
        hit = f"(strpos(cn_rest, '{kw_sql}') > 0)"
        steps.append(
            f"s{i} AS (SELECT {keep}, cn_applies, cn_last, "
            f"CASE WHEN {hit} THEN regexp_replace(replace(cn_rest, '{kw_sql}', ''), "
            f"'^\\s+|\\s+$', '', 'g') "
            f"ELSE cn_rest END AS cn_rest, "
            f"CASE WHEN {hit} THEN "
            f"CASE WHEN cn_titles = '' THEN '{kw_sql}' "
            f"ELSE cn_titles || ' ' || '{kw_sql}' END "
            f"ELSE cn_titles END AS cn_titles FROM s{i - 1})"
        )
    n = len(TITLE_KEYWORDS)
    converted = (
        "CASE WHEN cn_titles = '' THEN cn_rest || ' ' || cn_last "
        "ELSE cn_titles || ' ' || cn_rest || ' de ' || cn_last END"
    )
    return (
        f"WITH src AS ({source_sql}), " + ", ".join(steps)
        + f" SELECT {keep}, CASE WHEN cn_applies THEN ({converted}) "
        f"ELSE {name_col} END AS {out_col} FROM s{n}"
    )
