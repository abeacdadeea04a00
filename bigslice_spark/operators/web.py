"""URL tooling for web-corpus pipelines — the standard pre-dedup stage
(C4/RefinedWeb-style): normalize URLs so the same page collapses to
one key, and reduce hosts to their registrable domain for per-site
quotas and blocklists.

Scale shape: everything is a zero-shuffle projection. Parsing and
normalization are JVM built-ins (parse_url, regexp_*, lower) inside
whole-stage codegen; the only higher-order lambda is the per-URL
tracking-parameter filter (bounded by the query string's param count —
the PERFORMANCE.md rule: codegen per-token work, tolerate
interpretation per-document).

Reference parity note: grailbio/bigslice has no URL utilities; this is
LLM-pipeline surface (SURVEY.md §2.4), like the media codecs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# the common cross-site tracking parameters (public lists: utm_*,
# Facebook/Google/Microsoft click ids); matched by exact key
DEFAULT_TRACKING_PARAMS = (
    "utm_source", "utm_medium", "utm_campaign", "utm_term",
    "utm_content", "utm_id", "fbclid", "gclid", "gclsrc", "dclid",
    "msclkid", "igshid", "mc_cid", "mc_eid", "ref_src", "ref_url",
    "_ga", "s_kwcid",
)

# second-level labels that commonly sit under a 2-letter country TLD
# (co.uk, com.au, ac.jp, ...): a pragmatic public-suffix subset — the
# full PSL is a data file; this heuristic covers the bulk of the web
_SECOND_LEVEL = ("co", "com", "net", "org", "gov", "ac", "edu", "or",
                 "ne", "go")


def _scheme(url: Column) -> Column:
    return F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*):",
                                    1))


def _wstrim(url: Column) -> Column:
    """Strip surrounding whitespace INCLUDING tabs/newlines — F.trim
    removes only spaces, and a crawl URL wrapped in '\\t' would
    otherwise reach parse_url unparseable (found by fuzzing)."""
    return F.regexp_replace(url, r"^\s+|\s+$", "")


def registrable_domain(host: Column | str) -> Column:
    """Host -> registrable domain: normally the last two labels, three
    when the second-to-last is a known second-level label under a
    2-letter country TLD (example.co.uk -> example.co.uk, not co.uk).
    IPv4 hosts pass through unchanged."""
    h = F.col(host) if isinstance(host, str) else host
    labels = F.split(h, r"\.")
    n = F.size(labels)
    is_ip = h.rlike(r"^\d{1,3}(\.\d{1,3}){3}$")
    second = F.element_at(labels, -2)
    tld = F.element_at(labels, -1)
    take3 = ((n >= 3) & (F.length(tld) == 2)
             & second.isin(*_SECOND_LEVEL))
    last2 = F.concat_ws(".", F.element_at(labels, -2),
                        F.element_at(labels, -1))
    last3 = F.concat_ws(".", F.element_at(labels, -3),
                        F.element_at(labels, -2),
                        F.element_at(labels, -1))
    return (F.when(is_ip | (n <= 2), h)
            .when(take3, last3)
            .otherwise(last2))


def url_normalize(df: DataFrame, url_col: str = "url",
                  out_col: str = "url_norm",
                  strip_params: tuple = DEFAULT_TRACKING_PARAMS
                  ) -> DataFrame:
    """Append the canonical form of ``url_col``: scheme and host
    lowercased, userinfo and fragment dropped, default ports (http 80,
    https 443) dropped, empty path -> '/', tracking parameters removed
    from the query (other parameters keep their original order —
    reordering would merge URLs whose servers may treat order as
    significant). Same-page variants collapse to one string, the key
    for URL-level dedup. Unparseable URLs (and URLs wrapped in
    whitespace beyond plain spaces — tabs/newlines happen in real
    crawl manifests) normalize to NULL instead of raising: ANSI
    parse_url throws on invalid input, so every probe here is
    try_parse_url."""
    u = _wstrim(F.col(url_col))
    scheme = _scheme(u)
    host = F.lower(F.try_parse_url(u, F.lit("HOST")))
    auth = F.try_parse_url(u, F.lit("AUTHORITY"))
    port = F.regexp_extract(F.coalesce(auth, F.lit("")),
                            r":(\d+)$", 1)
    default = ((scheme == "http") & (port == "80")) | \
              ((scheme == "https") & (port == "443"))
    port_part = F.when((port == "") | default, F.lit("")) \
        .otherwise(F.concat(F.lit(":"), port))
    path = F.try_parse_url(u, F.lit("PATH"))
    path = F.when((path == "") | path.isNull(), F.lit("/")) \
        .otherwise(path)
    query = F.try_parse_url(u, F.lit("QUERY"))
    kept = F.filter(
        F.split(F.coalesce(query, F.lit("")), "&"),
        lambda p: (p != "") & ~F.split(p, "=")[0]
        .isin(*[x.lower() for x in strip_params]))
    qpart = F.when(F.size(kept) > 0,
                   F.concat(F.lit("?"), F.array_join(kept, "&"))) \
        .otherwise(F.lit(""))
    norm = F.concat(scheme, F.lit("://"), host, port_part, path, qpart)
    # an unparseable URL (try_parse_url -> NULL host) normalizes to
    # NULL, not to a "scheme://" fragment that could merge with a
    # real page's key downstream
    return df.withColumn(
        out_col, F.when(host.isNull() | (host == ""), F.lit(None))
        .otherwise(norm))


def url_dedup_keys(df: DataFrame, url_col: str = "url",
                   id_col: str = "doc_id") -> DataFrame:
    """(id, url_norm, domain, keep): URL-level exact dedup verdicts —
    ``keep`` marks the lowest-id document per normalized URL (the
    greedy lower-id policy every dedup family here uses). One
    aggregation exchange on the 16-byte md5 of the normalized URL,
    never the URL text (the span_dedup ownership pattern)."""
    n = url_normalize(df, url_col).select(
        F.col(id_col), F.col("url_norm"),
        registrable_domain(F.lower(F.try_parse_url(
            _wstrim(F.col(url_col)), F.lit("HOST"))))
        .alias("domain"),
        F.md5(F.col("url_norm")).alias("__h__"))
    from pyspark.sql import Window as W
    keep = F.min(id_col).over(W.partitionBy("__h__"))
    return (n.withColumn("keep", F.col(id_col) == keep)
            .drop("__h__"))
