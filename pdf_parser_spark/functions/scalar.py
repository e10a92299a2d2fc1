"""Native-column ports of the SQL-expressible extraction_core scalars.

Each function here has a pure-Python reference in
``pdf_parser_spark.extraction_core``, and tests/test_functions_scalar.py
compares the two over adversarial inputs:

  valid_amount_col      ↔ is_valid_amount (B10)
  summary_interest_col  ↔ looks_like_summary_interest_row (B9)
  to_number_col         ↔ to_number (G13)
  amount_fragment_col   ↔ parse_amount_fragment (G13)
  clean_contra_col      ↔ clean_contra (G12)
  force_map_to_allowed  ↔ force_map_to_allowed (D4)

The B9/B10/G12/G13 references run nowhere else; the D4 one also maps the
keyword targets in operators/classify.py at plan-build time. The native
columns run JVM-side, with no Python in the plan.

Reference lineage (same as the scalar twins):
  B9  (pyc) parse.looks_like_summary_interest_row
  B10 (pyc) parse.is_valid_amount
  D4  utils/classify_transaction.py:15-37 (_force_map_to_allowed)
  G12 routes/coa.py:33-59 (_clean_contra)
  G13 routes/journal.py:7-18 (_to_number); journal_detail.py:45-58
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_parser_spark.extraction_core import ALLOWED_ACCOUNTS, fallback_account


def valid_amount_col(amount):
    """B10 — abs(amount) >= 0.01; NULL → false (mirrors `is_valid_amount`)."""
    return F.coalesce(F.abs(amount) >= 0.01, F.lit(False))


_B9_CUTOFF = "2023-10-01"

# Python str.strip()/str.split() treat ANY whitespace (tabs, newlines, NBSP)
# as separators, while Spark's F.trim strips ASCII spaces only — so the
# column twins normalize with a (?U)\s regex instead of trim (parity with
# the golden scalars on '\t'/'\n'-padded inputs is tested).
_WS_TRIM = r"(?U)^\s+|\s+$"


def _ws_strip(col):
    return F.regexp_replace(col, _WS_TRIM, "")


def summary_interest_col(memo, date_str, amount):
    """B9 — statement-summary interest heuristic as one boolean expression.

    keyword hit AND <=6 words AND abs(amount)>=100 AND date < 2023-10-01;
    unparseable dates and NULL amounts → false, exactly like the scalar.
    """
    lo = F.lower(F.coalesce(memo, F.lit("")))
    kw = (
        lo.contains("interest")
        | lo.contains("pay over time")
        | lo.contains("apr")
        | lo.contains("summary")
    )
    # len(lo.split()) in the scalar: split on any whitespace, drop empties
    n_words = F.size(F.filter(F.split(lo, r"(?U)\s+"), lambda t: t != ""))
    big = F.coalesce(F.abs(amount) >= 100.0, F.lit(False))
    parsed = F.try_to_timestamp(date_str, F.lit("M/d/yyyy"))
    old = F.coalesce(parsed < F.lit(_B9_CUTOFF).cast("timestamp"), F.lit(False))
    return kw & (n_words <= 6) & big & old


def to_number_col(x, numeric_input: bool = False):
    """G13 — keep chars [0-9.-], cast double, failure → 0.0.

    The scalar `to_number` short-circuits numeric inputs (`float(x)` before
    any character stripping). A bare Column carries no dtype, so callers
    with a numeric source column pass ``numeric_input=True`` to mirror that
    branch — otherwise a double rendered by Spark in scientific notation
    ('2.0E-5') would have its 'E' stripped and collapse to 0.0.
    """
    if numeric_input:
        return F.coalesce(x.cast("double"), F.lit(0.0))
    s = F.regexp_replace(F.coalesce(x.cast("string"), F.lit("")), r"[^0-9.\-]", "")
    return F.coalesce(s.try_cast("double"), F.lit(0.0))


def amount_fragment_col(x):
    """G13b — digit-keep float with (..)-negation (parse_amount_fragment)."""
    s = F.coalesce(x.cast("string"), F.lit(""))
    neg = s.contains("(") & s.contains(")")
    digits = F.regexp_replace(s, r"[^0-9.\-]", "")
    val = F.coalesce(digits.try_cast("double"), F.lit(0.0))
    return F.when(neg & (val > 0), -val).otherwise(val)


def clean_contra_col(label):
    """G12 — strip '(... contra ...)' groups and ' - … contra …' suffixes.

    Regex port of the scalar's scan loop: any parenthesised group whose body
    mentions 'contra' is removed together with an immediately-preceding
    dash; then a ' - ' suffix whose right side mentions 'contra' is
    truncated; finally space runs collapse. Equivalent to the scalar for
    non-nested parens (the reference never nests; parity-tested).
    """
    t = F.coalesce(label, F.lit(""))
    # repeat twice: removing one group can make a preceding dash adjacent to
    # a later group (the scalar loop restarts its scan after each removal)
    for _ in range(2):
        t = F.regexp_replace(t, r"(?i)\s*-?\s*\([^()]*contra[^()]*\)", " ")
    dash_pos = F.instr(t, " - ")
    right_part = F.lower(F.substring(t, dash_pos + 3, F.lit(1 << 20)))
    t = F.when(
        (dash_pos > 0) & right_part.contains("contra"),
        F.rtrim(F.substring(t, F.lit(1), dash_pos - 1)),
    ).otherwise(t)
    t = F.regexp_replace(t, r" {2,}", " ")
    return F.trim(t)


# ---------------------------------------------------------------------------
# D4 — best-token-overlap mapping as a shuffle-free literal-array argmin
# ---------------------------------------------------------------------------


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _chart_literal(accounts: list[str]):
    """The allowed chart as ONE array<struct> literal — compile-time constant.

    Each entry carries (i, account, account_lc, a_tokens). Because the chart
    is a literal, the whole D4 cascade becomes a pure projection: no join,
    no aggregate, no exchange anywhere in the plan. Built as a single
    F.expr so the ~60x4 literal nodes cost ONE py4j round-trip instead of
    thousands (a Column-API build spent ~2s of driver time per plan).
    """
    entries = []
    for i, a in enumerate(accounts):
        al = a.lower()
        toks = [t for t in al.split(" ") if t]
        tok_arr = (
            "array(" + ",".join(_sql_str(t) for t in toks) + ")"
            if toks
            else "cast(array() as array<string>)"
        )
        entries.append(
            f"named_struct('i',{i},'account',{_sql_str(a)},"
            f"'account_lc',{_sql_str(al)},'a_tokens',{tok_arr})"
        )
    return F.expr("array(" + ",".join(entries) + ")")


def _normalized_chosen(chosen):
    """Python str.strip().lower() twin; see _WS_TRIM note above."""
    return F.lower(_ws_strip(F.coalesce(chosen, F.lit(""))))


def _cascade_col(c, accounts: list[str]):
    """The D4 cascade for an ALREADY-normalized (stripped+lowered) string.

    `array_min` over a `transform` of the literal chart with ordering key
    (tier, -hits, list index) — structs compare lexicographically, so the
    argmin reproduces every tie-break of the Python loops: exact lowercase
    match, else FIRST (list-order) mutual-substring match, else max
    shared-token count with first-in-list tie-break. Note '' matches the
    FIRST account via the substring rule ('' is a substring of anything) —
    the raw-falsy fallback belongs to the caller.
    """
    chart = _chart_literal(accounts)
    # scalar tokenization: c.split(" ") then drop empties (single-space split)
    c_tokens = F.filter(F.split(c, " "), lambda x: x != "")

    def score(e):
        exact = c == e["account_lc"]
        sub = e["account_lc"].contains(c) | c.contains(e["account_lc"])
        hits = F.size(
            F.filter(c_tokens, lambda t: F.array_contains(e["a_tokens"], t))
        )
        tier = F.when(exact, F.lit(0)).when(sub, F.lit(1)).otherwise(F.lit(2))
        return F.struct(
            tier.alias("t"),
            F.when(tier == 2, -hits).otherwise(F.lit(0)).alias("h"),
            e["i"].alias("i"),
            e["account"].alias("account"),
        )

    return F.array_min(F.transform(chart, score))["account"]


def mapped_account_col(chosen, accounts: list[str] | None = None):
    """D4 as a single column expression (the scalar cascade, JVM-side).

    Cascade identical to the scalar `force_map_to_allowed`
    (utils/classify_transaction.py:15-37); empty/NULL raw input →
    uncategorized fallback. Zero joins, zero shuffles — but higher-order
    functions run INTERPRETED (no whole-stage codegen), ~0.5ms/row against
    a 60-account chart: right for small frames and literal inputs; use
    `force_map_to_allowed` on large frames (distinct-memoized, same
    result).
    """
    accounts = accounts if accounts is not None else ALLOWED_ACCOUNTS
    fb = fallback_account(accounts)
    if not accounts:
        # scalar: empty chart → return the input unchanged (falsy → fallback)
        return F.when(chosen.isNull() | (chosen == ""), F.lit(fb)).otherwise(chosen)
    best = _cascade_col(_normalized_chosen(chosen), accounts)
    # the scalar falls back only on a falsy *raw* input ('' / None);
    # whitespace-only input strips to '' and then hits the substring rule
    return F.when(chosen.isNull() | (chosen == ""), F.lit(fb)).otherwise(best)


def force_map_to_allowed(
    df: DataFrame,
    chosen_col: str,
    out_col: str = "mapped_account",
    accounts: list[str] | None = None,
) -> DataFrame:
    """D4 distributed: map every `chosen_col` onto the allowed chart.

    The cascade is a pure function of the NORMALIZED input string, and real
    inputs (LLM answers, account labels) repeat heavily — so it runs once
    per DISTINCT normalized value and joins back on that semantic key
    (deterministic, unlike the round-2 monotonically_increasing_id key):

        rows → [_c] → map-side partial distinct → tiny exchange
             → cascade projection over the distinct values (interpreted
               HOF cost paid #distinct times, not #rows times)
             → equi-join back on _c (AQE broadcasts the tiny mapping —
               no hint, so adversarial all-unique inputs degrade to a
               shuffle join instead of a driver OOM)

    The big side is never shuffled and carries no Python. The raw-falsy
    fallback ('' / NULL → uncategorized) stays row-side because the scalar
    distinguishes raw-empty (fallback) from whitespace-only (first-account
    substring match) — both normalize to the same '' key.
    """
    accounts = accounts if accounts is not None else ALLOWED_ACCOUNTS
    fb = fallback_account(accounts)
    if not accounts:
        raw = F.col(chosen_col)
        return df.withColumn(
            out_col, F.when(raw.isNull() | (raw == ""), F.lit(fb)).otherwise(raw)
        )
    row = df.withColumn("_c", _normalized_chosen(F.col(chosen_col)))
    mapping = (
        row.select("_c").distinct().withColumn("_best", _cascade_col(F.col("_c"), accounts))
    )
    raw = F.col(chosen_col)
    return (
        row.join(mapping, "_c", "left")
        .withColumn(
            out_col,
            F.when(raw.isNull() | (raw == ""), F.lit(fb)).otherwise(F.col("_best")),
        )
        .drop("_c", "_best")
    )
