"""Arrow-batched pandas UDFs — the only Python in the hot path.

Each UDF uses the Iterator[pd.Series] form so per-task setup (regex
compilation) happens once per task, not once per batch; the actual pattern
work is the pure kernel in purekit.py.

Reference parity: P1/P2 (urlparser.py:19-140), P3 (handler.py:41-61),
P7 (util.py:109-116), P11 (entity.py:47-50).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Callable

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import CHILD_STRUCT, SECRET_STRUCT, URL_PART_FIELDS
from .purekit import (
    LinkExtractor,
    extract_title,
    parse6,
    unparse6,
)

_PARSE_STRUCT = T.StructType(
    [T.StructField("url_norm", T.StringType()), *URL_PART_FIELDS]
)


def make_parse_url_udf() -> Callable:
    """url:string → struct(url_norm + 6-tuple). Exact urllib.parse semantics
    (reference identity, entity.py:21-22) — Spark's parse_url() differs on
    params/fragment splitting, so we keep urllib inside an Arrow batch."""

    @F.pandas_udf(_PARSE_STRUCT)
    def parse_url_udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        cols = ["url_norm", "scheme", "netloc", "path", "params", "query", "fragment"]
        for urls in it:
            rows = []
            for u in urls:
                t = parse6(u if u is not None else "")
                rows.append((unparse6(t), *t))
            yield pd.DataFrame(rows, columns=cols)

    return parse_url_udf


def make_secrets_udf(
    rules: dict[str, str], use_groups: bool = True, engine: str = "re"
) -> Callable:
    """text → array<struct<rule_name,match>>, per-text set-dedup
    (reference crawler.py:311 ``set(secrets)``). ``engine`` selects the
    kernel per the P6 factory ('re' | 'hyperscan' | 'auto'); resolution
    happens once per task inside the iterator, on the executor."""

    @F.pandas_udf(T.ArrayType(SECRET_STRUCT))
    def secrets_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        from .purekit import get_extractor

        extractor = get_extractor(rules, engine=engine, use_groups=use_groups)
        for texts in it:
            out = []
            for text in texts:
                if text is None:
                    out.append([])
                    continue
                uniq = set(extractor.extract(text))
                out.append([{"rule_name": r, "match": m} for r, m in sorted(uniq)])
            yield pd.Series(out)

    return secrets_udf


_EXTRACT_STRUCT = T.StructType(
    [
        T.StructField("children", T.ArrayType(CHILD_STRUCT)),
        T.StructField("secrets", T.ArrayType(SECRET_STRUCT)),
        T.StructField("title", T.StringType()),
    ]
)


def make_extract_udf(
    finder_rules: dict[str, str],
    secret_rules: dict[str, str],
    engine: str = "re",
) -> Callable:
    """(scheme, netloc, caption, extendable) → struct(children, secrets,
    title) — P1∪P2, P3, and P7 in ONE Arrow pass.

    The caption column is the dominant Arrow-serialization cost of a crawl
    tier (JVM→worker copy of every page body); running links, secrets, and
    title as separate UDFs shipped it three times and capped executor feed
    throughput at high parallelism. ``extendable`` carries the F7
    content-type gate per row (links are skipped for non-extendable pages,
    secrets and title always run — reference crawler.py:296 vs 343)."""

    @F.pandas_udf(_EXTRACT_STRUCT)
    def extract_udf(
        it: Iterator[tuple[pd.Series, pd.Series, pd.Series, pd.Series]]
    ) -> Iterator[pd.DataFrame]:
        from .purekit import get_extractor

        lx = LinkExtractor(finder_rules)
        se = get_extractor(secret_rules, engine=engine, use_groups=True)
        for schemes, netlocs, texts, extends in it:
            kids_col, secrets_col, title_col = [], [], []
            for scheme, netloc, text, ext in zip(
                schemes, netlocs, texts, extends
            ):
                if text is None:
                    kids_col.append([])
                    secrets_col.append([])
                    title_col.append("")
                    continue
                uniq = set(se.extract(text))
                secrets_col.append(
                    [{"rule_name": r, "match": m} for r, m in sorted(uniq)]
                )
                title_col.append(extract_title(text))
                if not ext:
                    kids_col.append([])
                    continue
                base6 = (scheme or "", netloc or "", "", "", "", "")
                kids = lx.extract(base6, text)
                kids_col.append(
                    [
                        {
                            "url_norm": unparse6(k),
                            "scheme": k[0], "netloc": k[1], "path": k[2],
                            "params": k[3], "query": k[4], "fragment": k[5],
                        }
                        for k in sorted(kids)
                    ]
                )
            yield pd.DataFrame(
                {"children": kids_col, "secrets": secrets_col,
                 "title": title_col}
            )

    return extract_udf
