"""Catalyst-native Column expressions for every pushdown-able predicate.

These are the filters the reference runs per-row in Python
(filter.py, util.py, crawler.py); here they are pure Column exprs so
Catalyst can push them into scans, fold constants, and keep them inside
WholeStageCodegen — no Python in the filter path.
"""

from __future__ import annotations

import fnmatch

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import DANGEROUS_PATHS, STATIC_EXTS


def glob_to_java_regex(pattern: str) -> str:
    """fnmatch glob → Java-compatible regex. fnmatch.translate emits
    ``(?s:...)\\Z`` which Java supports verbatim; on Linux fnmatch is
    case-sensitive (os.path.normcase is identity), so no (?i)."""
    return fnmatch.translate(pattern)


def domain_whitelist(host: Column, patterns: list[str]) -> Column:
    """F1 — accept if ANY glob matches the host (reference filter.py:18-37)."""
    if not patterns:
        return F.lit(False)
    cond = F.lit(False)
    for p in patterns:
        cond = cond | host.rlike(glob_to_java_regex(p))
    return cond


def domain_blacklist(host: Column, patterns: list[str]) -> Column:
    """F2 — accept if NO glob matches (reference filter.py:40-57)."""
    if not patterns:
        return F.lit(True)
    return ~domain_whitelist(host, patterns)


def filter_chain(*predicates: Column) -> Column:
    """F3 — conjunction (reference filter.py:60-77); Catalyst folds it."""
    out = F.lit(True)
    for p in predicates:
        out = out & p
    return out


def host_of(netloc: Column) -> Column:
    """P8 — host part of netloc (reference util.py:53-60): 1 part → part,
    2 parts → trimmed first, ≥3 parts → ''."""
    parts = F.split(netloc, ":")
    return (
        F.when(F.size(parts) == 1, parts.getItem(0))
        .when(F.size(parts) == 2, F.trim(parts.getItem(0)))
        .otherwise(F.lit(""))
    )


def root_domain(host: Column) -> Column:
    """P9 PSL-aware root domain as a pure Column expr, kernel-parity with
    purekit.get_root_domain (tested identical over the PSL cases). The
    suffix tables compile to Catalyst InSet literals — a hash probe inside
    whole-stage codegen, no join and no shuffle at any scale (the
    broadcast-join alternative would ship the same few KB per executor
    but add a join node per report)."""
    from .psl import tables

    multi, wild, exc = tables()
    multi_by_len: dict[int, list[str]] = {}
    for s in multi:
        multi_by_len.setdefault(s.count(".") + 1, []).append(s)
    wild_by_len: dict[int, list[str]] = {}  # keyed by BASE label count
    for s in wild:
        wild_by_len.setdefault(s.count(".") + 1, []).append(s)
    exc_by_len: dict[int, list[str]] = {}
    for s in exc:
        exc_by_len.setdefault(s.count(".") + 1, []).append(s)

    labels = F.split(F.lower(host), r"\.")
    n = F.size(labels)

    def lastk(k: int) -> Column:
        return F.array_join(F.slice(labels, -k, k), ".")

    # publicsuffix.org algorithm, kernel-parity with psl.suffix_label_count:
    # exception rules prevail (suffix = rule labels - 1), then the longest
    # exact/wildcard rule, default 1. Wildcard "*.base" needs one label
    # past its base, so a base of j-1 labels yields suffix length j.
    k: Column | None = None
    for m in sorted(exc_by_len, reverse=True):
        cond = (n >= m) & lastk(m).isin(exc_by_len[m])
        k = F.when(cond, F.lit(m - 1)) if k is None else k.when(cond, F.lit(m - 1))
    max_rule = max(
        list(multi_by_len) + [j + 1 for j in wild_by_len] + [1]
    )
    for j in range(max_rule, 1, -1):
        cond, has = F.lit(False), False
        if multi_by_len.get(j):
            cond, has = lastk(j).isin(multi_by_len[j]), True
        if wild_by_len.get(j - 1):
            wc = lastk(j - 1).isin(wild_by_len[j - 1])
            cond, has = (cond | wc) if has else wc, True
        if has:
            cond = (n >= j) & cond
            k = F.when(cond, F.lit(j)) if k is None else k.when(cond, F.lit(j))
    k = F.lit(1) if k is None else k.otherwise(F.lit(1))
    kk = k + F.lit(1)
    return (
        F.when(n > k, F.array_join(F.slice(labels, -kk, kk), "."))
        # host IS a known multi-label suffix: tldextract domain '' form
        .when((n == k) & (k >= 2), F.concat(F.lit("."), F.array_join(labels, ".")))
        .when(n >= 2, lastk(2))
        .otherwise(F.concat(host, F.lit(".")))
    )


def is_static_resource_expr(path: Column) -> Column:
    """F4 (reference util.py:44-50) as one rlike."""
    alts = "|".join(e.lstrip(".") for e in STATIC_EXTS)
    return path.rlike(rf"\.({alts})($|\?)")


def is_dangerous_path(path: Column, dangerous: list[str] | None = None) -> Column:
    """F6 (reference crawler.py:258-266): case-insensitive search of
    ``/?word`` in the trimmed path."""
    words = dangerous if dangerous is not None else DANGEROUS_PATHS
    if not words:
        return F.lit(False)
    return F.trim(path).rlike("(?i)/?(" + "|".join(words) + ")")


def is_extend_expr(content_type: Column) -> Column:
    """F7 content-type gate (reference crawler.py:314-323)."""
    ct = F.lower(F.trim(F.split_part(F.coalesce(content_type, F.lit("")), F.lit(";"), F.lit(1))))
    return (
        F.when(ct.startswith("text/"), F.lit(True))
        .when(
            ct.startswith("application/"),
            ~ct.isin("application/octet-stream", "application/pdf"),
        )
        .otherwise(F.lit(False))
    )


def is_js_expr(path: Column) -> Column:
    """F11 (reference crawler.py:325-330)."""
    return (
        path.endswith(".js") | path.endswith(".js.map") | path.contains(".js?")
    )


def status_allowed(status: Column, ranges: list[tuple[int, int]] | None) -> Column:
    """F12 display-status filter (reference output_formatter.py:53-69):
    404 always dropped; with ranges set, keep iff numeric and in any
    half-open [start, end)."""
    not_404 = status != F.lit("404")
    if not ranges:
        return not_404
    numeric = status.rlike("^[0-9]+$")
    code = F.when(numeric, status.cast("int"))
    in_any = F.lit(False)
    for start, end in ranges:
        in_any = in_any | ((code >= F.lit(start)) & (code < F.lit(end)))
    return not_404 & numeric & in_any


def is_unknown_status(status: Column) -> Column:
    """F13 validate-candidate (reference crawler.py:241-254): non-numeric."""
    return ~status.rlike("^[0-9]+$")


_ANCHOR_PAT = (
    r"""(?is)<a\b[^>]*?href\s*=\s*("[^"]*"|'[^']*'|[^\s>]+)[^>]*>(.*?)</a>"""
)


def extract_anchors(
    pages, url_col: str = "url_norm", html_col: str = "caption"
):
    """(url, href, anchor) per ``<a href=...>text</a>`` — the link-graph /
    training-pair signal (anchor text is the classic relevance label for
    query-doc pairs) the reference never extracts: its ``urlparser.py``
    harvests href VALUES only. Pure Catalyst: one regex drives two
    group-extractions whose match order is identical (same pattern, same
    input), zip_with pairs them, and the anchor text is tag-stripped and
    whitespace-collapsed inside the lambda. Map-only until the explode;
    rows with no anchors are dropped (inner-join semantics, like every
    extraction explode in the engine)."""
    body = F.coalesce(F.col(html_col), F.lit(""))
    hrefs = F.regexp_extract_all(body, F.lit(_ANCHOR_PAT), F.lit(1))
    texts = F.regexp_extract_all(body, F.lit(_ANCHOR_PAT), F.lit(2))

    def pair(h: Column, t: Column) -> Column:
        clean_h = F.regexp_replace(h, "^[\"']|[\"']$", "")
        clean_t = F.trim(
            F.regexp_replace(
                F.regexp_replace(t, "<[^>]*>", " "), r"\s+", " "
            )
        )
        return F.struct(clean_h.alias("href"), clean_t.alias("anchor"))

    return pages.select(
        F.col(url_col).alias("url"),
        F.explode(F.zip_with(hrefs, texts, pair)).alias("a"),
    ).select("url", F.col("a.href").alias("href"), F.col("a.anchor").alias("anchor"))
