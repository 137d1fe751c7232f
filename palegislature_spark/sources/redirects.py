"""Redirect resolution with a memoized cache (F9 — ``crawl.py:345-366``).

The reference memoizes ``get_resolved_url`` in a YAML dict: cache hit
returns the stored terminal URL (or None when the URL doesn't
redirect); a miss follows HEAD 301/302 Location chains (resolving
relative Locations against the current URL) and writes the result
back to ``resolutions.yaml``.

Distributed shape: the cache is a small (url, resolved) dimension —
broadcast-joined against the URLs that need resolving; only cache
MISSES go to the network resolver, one call per Arrow batch through
the kernel seam ``operators/kernels.py`` (executor-side, one HTTP
session per partition in production). The union of hits + fresh resolutions is both the
answer and the next cache generation — write it back with
``save_cache`` (YAML, same format as the reference's
``resolutions.yaml``) or ``sources.merge.upsert_parquet`` keyed by
url at scale.

The redirect-chain walk itself (``chain_resolver``) is pure logic
over an injectable ``head(url) -> (status, location)`` callable, so
it is fully testable without network; ``http_head`` is the real
requests implementation (dormant here — no network — but exercised
in tests via an injected session).
"""

from __future__ import annotations

from collections.abc import Callable
from urllib.parse import urljoin

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from palegislature_spark.operators.kernels import map_batches

RESOLUTION_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("resolved", T.StringType()),  # NULL = does not redirect
    ]
)


def chain_resolver(
    head: Callable[[str], tuple[int, str | None]],
) -> Callable[[list[str]], list[tuple[str, str | None]]]:
    """The reference's redirect walk (``crawl.py:348-366``) over an
    injectable HEAD: follow 301/302 Location chains, resolving
    relative Locations against the current URL; a URL that ends where
    it started resolves to None."""

    def resolve(urls: list[str]) -> list[tuple[str, str | None]]:
        out = []
        for url in urls:
            resolved = url
            while True:
                status, location = head(resolved)
                if status not in (301, 302) or not location:
                    break
                resolved = urljoin(resolved, location)
            out.append((url, None if resolved == url else resolved))
        return out

    return resolve


def http_head(
    url: str,
    user_agent: str = "palegislature_spark",
    timeout: float = 30.0,
    session=None,
) -> tuple[int, str | None]:
    """Production HEAD: (status, Location) with redirects NOT followed
    — the chain walk in :func:`chain_resolver` does the following, as
    the reference does at ``crawl.py:348-366``.

    Real code path, covered by tests through ``session`` injection
    (only the socket needs a network); production use is
    ``chain_resolver(http_head)``.
    """
    if session is None:  # pragma: no cover — needs a network
        import requests

        session = requests.Session()
        session.headers.update({"User-Agent": user_agent})
    resp = session.head(url, allow_redirects=False, timeout=timeout)
    return resp.status_code, resp.headers.get("Location")


def resolve_urls(
    urls: DataFrame,
    cache: DataFrame | None,
    resolver: Callable[[list[str]], list[tuple[str, str | None]]],
    url_col: str = "url",
) -> DataFrame:
    """(url) rows -> (url, resolved) rows for every input URL.

    Cache hits never touch the resolver; misses resolve partition-
    parallel. The output covers all inputs and is the updated cache
    generation (memo write-back = persisting it).
    """
    distinct_urls = urls.select(F.col(url_col).alias("url")).distinct()
    if cache is None:
        cache = urls.sparkSession.createDataFrame([], RESOLUTION_SCHEMA)
    hits = distinct_urls.join(F.broadcast(cache), "url", "inner")
    misses = distinct_urls.join(F.broadcast(cache), "url", "left_anti")

    def batch(pdf):
        resolved = resolver(list(pdf["url"]))
        return {"url": [u for u, _ in resolved], "resolved": [r for _, r in resolved]}

    fresh = map_batches(misses, ("url",), RESOLUTION_SCHEMA, batch)
    return hits.unionByName(fresh)


def load_cache(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a ``resolutions.yaml``-format cache ({url: resolved|null})."""
    import os

    import yaml

    if not os.path.exists(path):
        return None
    with open(path) as f:
        data = yaml.safe_load(f) or {}
    return spark.createDataFrame(
        [(k, v) for k, v in data.items()], RESOLUTION_SCHEMA
    )


def save_cache(resolutions: DataFrame, path: str) -> None:
    """Write the cache generation back in the reference's YAML format.

    The cache is dimension-sized by construction (one row per distinct
    member-list URL ever crawled — thousands, not billions), so a
    driver-side collect here is the bounded-report case, not a
    distributed anti-pattern.
    """
    import yaml

    data = {r["url"]: r["resolved"] for r in resolutions.collect()}
    with open(path, "w") as f:
        yaml.safe_dump(data, f)
