"""URL extraction + Faup-style decomposition as pure column expressions.

Reference: regex scan src/modules/utils.py:37-38, decomposition (Faup)
utils.py:135-172, whitelist anti-filter utils.py:449-473, flattening
utils.py:476-492. Everything here is JVM-side (regexp + higher-order
array functions) — no Python UDF, so extraction stays inside
whole-stage codegen and scales linearly with input bytes.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# The reference's RE_URL (utils.py:37-38), with inline (?i) since Spark's
# regexp_extract_all has no flags argument. Java regex accepts this form.
RE_URL = r"(?i)((?:(?:ht|f)tp(?:s?)\:\/\/)(?:[!#$&-;=?-\[\]_a-z~]|%[0-9a-f]{2})+)"

# Minimal public-suffix set for 2nd-level-domain extraction; mirrors
# spamscope_spark.oracle._TWO_LEVEL_SUFFIXES.
TWO_LEVEL_SUFFIXES = [
    "co.uk", "org.uk", "gov.uk", "ac.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp",
    "com.br", "com.cn", "com.mx", "co.in", "co.kr", "co.za",
]


def extract_url_strings(text: Column) -> Column:
    """Distinct URL strings found in text, sorted (the reference collects
    matches into a set — utils.py:166)."""
    return F.array_sort(
        F.array_distinct(
            F.regexp_extract_all(F.coalesce(text, F.lit("")), F.lit(RE_URL), 1)
        )
    )


def decompose_url(u: Column) -> Column:
    """One URL string → URL_STRUCT (Faup-output analog, utils.py:145-160)."""
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z]+)://", 1))
    hostport = F.regexp_extract(u, r"^[A-Za-z]+://([^/?#]*)", 1)
    host = F.lower(
        F.element_at(F.split(F.element_at(F.split(hostport, "@"), -1), ":"), 1)
    )
    path = F.nullif(F.regexp_extract(u, r"^[A-Za-z]+://[^/?#]*([^?#]*)", 1), F.lit(""))
    qs = F.nullif(F.regexp_extract(u, r"\?([^#]*)", 1), F.lit(""))

    labels = F.split(host, r"\.")
    n = F.size(labels)
    last2 = F.array_join(F.slice(labels, -2, 2), ".")
    is_two_level = (n >= 3) & last2.isin(TWO_LEVEL_SUFFIXES)
    n_domain_labels = (
        F.when(is_two_level, F.lit(3)).when(n >= 2, F.lit(2)).otherwise(F.lit(1))
    )
    domain = F.when(is_two_level, F.array_join(F.slice(labels, -3, 3), ".")).when(
        n >= 2, last2
    ).otherwise(host)
    tld = F.when(is_two_level, last2).when(n >= 2, F.element_at(labels, -1))
    n_sub = n - n_domain_labels
    subdomain = F.when(n_sub > 0, F.array_join(F.slice(labels, 1, n_sub), "."))

    return F.struct(
        u.alias("url"),
        scheme.alias("scheme"),
        host.alias("host"),
        domain.alias("domain"),
        subdomain.alias("subdomain"),
        tld.alias("tld"),
        path.alias("resource_path"),
        qs.alias("query_string"),
    )


def extract_urls(text: Column) -> Column:
    """array<URL_STRUCT> of the distinct URLs in text, sorted by URL —
    the flat-list analog of urls_extractor + reformat_urls."""
    return F.transform(extract_url_strings(text), decompose_url)


def filter_whitelisted(urls: Column, whitelist: list[str]) -> Column:
    """Anti-filter: drop URL structs whose 2nd-level domain is whitelisted
    (text2urls_whitelisted, utils.py:449-473). For large whitelists use a
    broadcast left-anti join on exploded rows instead; for config-sized
    lists an isin literal is optimal (Catalyst folds it)."""
    if not whitelist:
        return urls
    return F.filter(urls, lambda s: ~s["domain"].isin(whitelist))


# ---- canonicalization (web-pipeline URL dedup) ------------------------------

# Tracking parameters stripped during canonicalization (the standard
# crawl-dedup set: Google/Facebook/Microsoft click ids + utm_* campaign
# tags). Kept deliberately short and documented — canonicalization is a
# policy, and silent over-stripping merges distinct resources.
TRACKING_PARAMS = ["gclid", "fbclid", "msclkid", "ref"]
DEFAULT_PORTS = {"http": "80", "https": "443", "ftp": "21"}


def canonicalize_url(u: Column) -> Column:
    """Canonical form for URL-level dedup (crawl-frontier / near-dup
    pre-pass): lowercase scheme+host, strip the scheme's default port,
    drop the fragment, drop tracking params (TRACKING_PARAMS + utm_*),
    sort surviving query params, normalize empty path to '/'. Pure
    column expressions — stays in whole-stage codegen; at 100 TB this
    runs in the scan projection with zero shuffle.

    Dedup policy notes (documented, deliberate): userinfo@ is preserved
    but lowercased; param VALUE percent-encoding is not normalized;
    path dot-segments are not resolved. Two URLs that differ only in
    those dimensions stay distinct."""
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z]+)://", 1))
    auth = F.lower(F.regexp_extract(u, r"^[A-Za-z]+://([^/?#]*)", 1))
    port = F.regexp_extract(auth, r":(\d+)$", 1)
    host = F.regexp_replace(auth, r":\d+$", "")
    default_port = F.coalesce(
        *[F.when(scheme == s, F.lit(p)) for s, p in DEFAULT_PORTS.items()],
        F.lit(""),
    )
    authority = F.when(
        (port == "") | (port == default_port), host
    ).otherwise(F.concat(host, F.lit(":"), port))

    path = F.regexp_extract(u, r"^[A-Za-z]+://[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)

    qs = F.regexp_extract(u, r"\?([^#]*)", 1)
    name = lambda p: F.element_at(F.split(p, "=", 2), 1)  # noqa: E731
    kept = F.array_sort(
        F.filter(
            F.split(qs, "&"),
            lambda p: (p != "")
            & ~F.lower(name(p)).isin(TRACKING_PARAMS)
            & ~F.lower(name(p)).startswith("utm_"),
        )
    )
    query = F.when(
        F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
    ).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), authority, path, query)


def sql_canonicalize_url(u: str) -> str:
    """DuckDB twin of canonicalize_url over the URL expression ``u`` —
    same extraction regexes, same param policy, same tie-breaks."""
    tracking = ", ".join(f"'{t}'" for t in TRACKING_PARAMS)
    ports = " ".join(
        f"WHEN '{s}' THEN '{p}'" for s, p in DEFAULT_PORTS.items()
    )
    return f"""(
    WITH parts AS (SELECT
        lower(regexp_extract({u}, '^([A-Za-z]+)://', 1)) AS scheme,
        lower(regexp_extract({u}, '^[A-Za-z]+://([^/?#]*)', 1)) AS auth,
        regexp_extract({u}, '^[A-Za-z]+://[^/?#]*([^?#]*)', 1) AS path,
        regexp_extract({u}, '\\?([^#]*)', 1) AS qs)
    SELECT scheme || '://' ||
        CASE WHEN regexp_extract(auth, ':(\\d+)$', 1) IN
                  ('', CASE scheme {ports} ELSE '' END)
             THEN regexp_replace(auth, ':\\d+$', '')
             ELSE auth END ||
        CASE WHEN path = '' THEN '/' ELSE path END ||
        CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
             ELSE '' END
    FROM (SELECT *, list_sort(list_filter(string_split(qs, '&'),
        p -> p <> ''
         AND NOT list_contains([{tracking}], lower(string_split(p, '=')[1]))
         AND NOT starts_with(lower(string_split(p, '=')[1]), 'utm_')))
        AS kept FROM parts)
    )"""
