"""URI / query-string abstraction — abs-log's namesake transform.

Reference semantics ([PK] expected upstream ``log_analyse.py`` /
``common/common.py`` ``text_abstract()``; pinned by [B] north_star:
"collapsing numeric/UUID path segments into patterns"):

- ``uri_abs``: split the URI on ``/``; any segment that is all-digits or a
  long hex/UUID-like run collapses to ``*``; rejoin.
  ``/api/user/123/profile`` -> ``/api/user/*/profile``.
- ``args_abs``: split the query string on ``&``; keep keys, wildcard values.
  ``q=x&page=2`` -> ``q=*&page=*``.

The volatile-segment rules are DATA (``SEGMENT_RULES``), not code, so they
can be corrected in one place if the reference checkout ever becomes
inspectable (SURVEY.md section 7 hard-part 5).

Two implementations with identical semantics (tested for parity):

- ``uri_abs_col`` / ``args_abs_col``: pure Spark builtin expressions
  (``transform`` over ``split``) — JVM-side, codegen'd, oracle-checkable.
- ``_uri_abs_arrow`` / ``_args_abs_arrow`` in ``functions.parse``: the same
  split/flag/join over pyarrow arrays, run inside the fused parse
  ``arrow_udf`` — the [B]-mandated vectorized production path.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

#: Regexes marking a path segment as volatile (collapsed to ``*``).
#: Order matters only for documentation; any match collapses the segment.
SEGMENT_RULES: tuple[str, ...] = (
    r"^[0-9]+$",            # pure digits: ids, timestamps
    r"^[0-9a-fA-F-]{8,}$",  # long hex / UUID-ish runs (md5, uuid4, tokens)
)

WILDCARD = "*"

# ---------------------------------------------------------------------------
# Builtin-expression path (JVM, WholeStageCodegen)
# ---------------------------------------------------------------------------


def _segment_is_volatile(seg: Column) -> Column:
    cond = F.lit(False)
    for pat in SEGMENT_RULES:
        cond = cond | seg.rlike(pat)
    return cond


def uri_abs_col(uri: Column) -> Column:
    """Pure-Spark ``uri_abs``. NULL-safe: null uri -> null."""
    return F.array_join(
        F.transform(
            F.split(uri, "/"),
            lambda s: F.when(_segment_is_volatile(s), F.lit(WILDCARD)).otherwise(s),
        ),
        "/",
    )


def args_abs_col(args: Column) -> Column:
    """Pure-Spark ``args_abs``: ``a=1&b=x`` -> ``a=*&b=*``; '' -> ''."""
    return F.when(args.isNull(), F.lit(None)).otherwise(
        F.array_join(
            F.transform(
                F.filter(F.split(args, "&"), lambda kv: kv != ""),
                lambda kv: F.concat(
                    F.element_at(F.split(kv, "=", 2), 1), F.lit("=" + WILDCARD)
                ),
            ),
            "&",
        )
    )


# ---------------------------------------------------------------------------
# Per-site custom abstraction rules (SURVEY.md A4, [PK] abs_special config)
# ---------------------------------------------------------------------------

#: (site, uri_abs regex, replacement). First matching rule wins; site "*"
#: applies to every site. Rules are DATA so ops can extend them per
#: deployment without touching code — the reference keeps these in config.
AbsRule = tuple[str, str, str]

DEFAULT_ABS_RULES: tuple[AbsRule, ...] = (
    ("site0", r"^/static/", "/static/*"),      # collapse the static tree
    ("*", r"^/order/\*/detail/\*$", "/order/*"),  # coarsen order detail pages
)


def apply_abs_rules(
    df, rules: tuple[AbsRule, ...] = DEFAULT_ABS_RULES,
    uri_col: str = "uri_abs", site_col: str = "site",
):
    """Override ``uri_abs`` with the first matching (site, pattern) rule.

    Compiled to a when-chain — pure JVM expressions, oracle-mirrorable as a
    CASE. At 10^12 rows a few dozen rules stay codegen'd; a rule table of
    thousands would become a broadcast-joined lookup instead.
    """
    expr = F.col(uri_col)
    for site, pat, repl in reversed(rules):
        cond = F.col(uri_col).rlike(pat)
        if site != "*":
            cond = cond & (F.col(site_col) == site)
        expr = F.when(cond, F.lit(repl)).otherwise(expr)
    return df.withColumn(uri_col, expr)
