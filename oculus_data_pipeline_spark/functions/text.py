"""Scalar text kernels — the semantic heart of the reference pipeline,
re-expressed as Spark SQL expression text (JVM-side, whole-stage
codegen; no Python UDFs anywhere here).

Each kernel is one ``*_sql(expr)`` generator: it takes the SQL text of
its input (a column name, an expression, or a lambda variable) and
returns SQL text, so a caller can splice it into one wide
``selectExpr``/``F.expr`` string and the whole projection costs one
parse instead of one py4j round trip per Column method. The plain
name (``normalize_term`` etc.) is that text as a Column.

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

from pyspark.sql import Column
from pyspark.sql import functions as F

# Python str.strip() semantics (all whitespace), not SQL trim(), which
# is space-only: a regexp on both ends.
_STRIP = r"'^\\s+|\\s+$'"


def normalize_term_sql(expr: str) -> str:
    """Collapse internal whitespace, trim, lowercase.

    The join-key normalizer used everywhere in the reference
    (xml_to_json.py:7-14). Idempotent.
    """
    return rf"lower(trim(regexp_replace({expr}, '\\s+', ' ')))"


def normalize_term(expr: str) -> Column:
    return F.expr(normalize_term_sql(expr))


def normalize_term_oracle_sql(expr: str) -> str:
    return f"lower(trim(regexp_replace({expr}, '\\s+', ' ', 'g')))"


def strip_parenthetical_sql(expr: str) -> str:
    """Remove ``(...)`` spans (non-greedy) then strip — xml_to_json.py:34-36."""
    return rf"regexp_replace(regexp_replace({expr}, '\\(.*?\\)', ''), {_STRIP}, '')"


def strip_parenthetical(expr: str) -> Column:
    return F.expr(strip_parenthetical_sql(expr))


def strip_parenthetical_oracle_sql(expr: str) -> str:
    return (
        f"regexp_replace(regexp_replace({expr}, '\\(.*?\\)', '', 'g'),"
        f" '^\\s+|\\s+$', '', 'g')"
    )


def generate_uri_sql(expr: str) -> str:
    """Deterministic hash surrogate key ("URI") — generate_uri.py:5-26.

    lower → drop spaces and commas → sha256 hex → int(hex[:8], 16)
    → % 100_000_000 → prefix ``'r'``. Pure JVM expression:
    ``conv(substring(sha2(s,256),1,8),16,10)`` parses the hex.
    """
    digest = f"sha2(regexp_replace(lower({expr}), '[ ,]', ''), 256)"
    return (
        f"concat('r', CAST(CAST(conv(substring({digest}, 1, 8), 16, 10) AS BIGINT)"
        " % 100000000 AS STRING))"
    )


def generate_uri(expr: str) -> Column:
    return F.expr(generate_uri_sql(expr))


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


def convert_name_sql(expr: str) -> str:
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
    subtree per step). ``expr`` may be a lambda variable, so the
    kernel also runs inside ``transform`` over a name array.
    """
    parts = f"split({expr}, ', ', -1)"
    last = f"element_at({parts}, 1)"
    keywords = ", ".join(f"'{kw}'" for kw in TITLE_KEYWORDS)
    # cn_-prefixed lambda variables, so they cannot shadow a column
    # that ``expr`` names
    step = (
        "(cn_acc, cn_kw) -> CASE WHEN contains(cn_acc.rest, cn_kw) THEN named_struct("
        "'titles', concat(cn_acc.titles, array(cn_kw)), "
        f"'rest', regexp_replace(replace(cn_acc.rest, cn_kw, ''), {_STRIP}, '')) "
        "ELSE cn_acc END"
    )
    finish = (
        "cn_acc -> CASE WHEN size(cn_acc.titles) = 0 "
        f"THEN concat(cn_acc.rest, ' ', {last}) "
        f"ELSE concat(array_join(cn_acc.titles, ' '), ' ', cn_acc.rest, ' de ', {last}) END"
    )
    # get() is NULL-safe out of range; the fold only runs where the
    # split has exactly 2 parts anyway
    zero = f"named_struct('titles', CAST(array() AS ARRAY<STRING>), 'rest', get({parts}, 1))"
    return (
        f"CASE WHEN contains({expr}, ',') AND size({parts}) = 2 "
        f"THEN aggregate(array({keywords}), {zero}, {step}, {finish}) ELSE {expr} END"
    )


def convert_name(expr: str) -> Column:
    return F.expr(convert_name_sql(expr))


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
