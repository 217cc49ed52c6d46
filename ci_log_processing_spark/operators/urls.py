"""URL curation: normalization, domain blocklisting, and URL-level
keep-first dedup — the C4/RefinedWeb-style provenance pass that runs
BEFORE content dedup (two crawls of one page differ by boilerplate,
but their canonical URL is identical, so URL dedup removes the bulk
of crawl-duplicate mass at string cost instead of shingle cost).

All pure Catalyst string/array expressions (regexp_extract, split,
filter, array_sort) — zero shuffles for normalize+blocklist, ONE
url-keyed window exchange for the dedup. Mirrored 1:1 by the DuckDB
oracle (oracle_data.q_url_dedup).

Normalization rule, stated exactly (both engines):
  * scheme canonicalized to https (http == https for identity)
  * host lowercased, leading "www." stripped, ports :80/:443 stripped
  * path: trailing "/" stripped ("" and "/" are the same page)
  * query: parameters split on "&", tracking params dropped
    (utm_* prefix, fbclid, gclid, ref), the rest SORTED (param order
    does not change the page) and re-joined; empty -> no "?"
  * fragment dropped entirely
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# tracking params dropped during canonicalization; utm_* by prefix
TRACKING_PARAMS = ("fbclid", "gclid", "ref")

DEFAULT_DOMAIN_BLOCKLIST = ("tracker.biz",)


def _norm_host(url: Column) -> Column:
    host = F.lower(F.regexp_extract(url, r"^[A-Za-z]+://([^/?#]+)", 1))
    host = F.regexp_replace(host, r"^www\.", "")
    return F.regexp_replace(host, r":(80|443)$", "")


def _norm_path(url: Column) -> Column:
    path = F.regexp_extract(url, r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    return F.regexp_replace(path, r"/$", "")


def _norm_query(url: Column) -> Column:
    q = F.regexp_extract(url, r"\?([^#]*)", 1)
    kept = F.filter(
        F.split(q, "&"),
        lambda p: (p != "")
        & ~p.startswith("utm_")
        & ~F.split(p, "=")[0].isin(*TRACKING_PARAMS),
    )
    return F.array_join(F.array_sort(kept), "&")


def normalize_urls(docs: DataFrame) -> DataFrame:
    """Append url_norm + domain. Per-row expressions only — this is
    a zero-shuffle scan at any corpus size."""
    url = F.col("url")
    host = _norm_host(url)
    q = _norm_query(url)
    norm = F.concat(
        F.lit("https://"),
        host,
        _norm_path(url),
        F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
    )
    return docs.withColumn("url_norm", norm).withColumn("domain", host)


def url_dedup(docs: DataFrame) -> DataFrame:
    """Normalize, drop blocklisted domains (exact host or any
    subdomain of a listed registrable domain), keep the LOWEST
    doc_id per canonical URL.

    Scale shape: normalize + blocklist are per-row (zero shuffle);
    keep-first is ONE window exchange keyed on url_norm — the same
    md5-keyed pattern as exact_dedup_keep_first, except the key is
    the canonical URL string (short, bounded). The blocklist is a
    literal predicate chain, not a join: block tables are small and
    static by nature; swap in a broadcast anti-join if a deployment's
    list outgrows a literal.

    Output: surviving rows + (url_norm, domain).
    """
    normed = normalize_urls(docs)
    blocked = F.lit(False)
    for d in DEFAULT_DOMAIN_BLOCKLIST:
        blocked = (
            blocked
            | (F.col("domain") == d)
            | F.col("domain").endswith("." + d)
        )
    kept = normed.filter(~blocked)
    w = Window.partitionBy("url_norm").orderBy("doc_id")
    return (
        kept.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def attach_urls(docs: DataFrame) -> DataFrame:
    """Plant a deterministic url column for the gate/tests (the
    synthetic documents table has no URL): hosts cycle through
    casing/www/subdomain/port variants plus a blocklisted domain,
    paths collide across docs (doc_id % 50), tracking params and
    trailing slashes appear on fixed residues. Mirrored by
    oracle_data.q_url_dedup's CTE."""
    d = F.col("doc_id")
    host = (
        F.when(d % 6 == 0, F.lit("example.com"))
        .when(d % 6 == 1, F.lit("www.Example.com"))
        .when(d % 6 == 2, F.lit("example.com:443"))
        .when(d % 6 == 3, F.lit("blog.example.com"))
        .when(d % 6 == 4, F.lit("tracker.biz"))
        .otherwise(F.lit("cdn.tracker.biz"))
    )
    scheme = F.when(d % 5 == 0, F.lit("http://")).otherwise(
        F.lit("https://")
    )
    path = F.concat(F.lit("/p/"), (d % 50).cast("string"))
    slash = F.when(d % 4 == 0, F.lit("/")).otherwise(F.lit(""))
    query = (
        F.when(
            d % 3 == 0,
            F.concat(F.lit("?utm_source=x&id="), (d % 50).cast("string")),
        )
        .when(
            d % 3 == 1,
            F.concat(
                F.lit("?id="),
                (d % 50).cast("string"),
                F.lit("&fbclid=abc"),
            ),
        )
        .otherwise(F.lit(""))
    )
    return docs.withColumn(
        "url", F.concat(scheme, host, path, slash, query)
    )
