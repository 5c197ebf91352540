"""URL canonicalization + domain-level corpus controls, JVM-side only.

Web-crawl pipelines (C4, RefinedWeb, FineWeb) key almost everything on the
URL: exact-dup removal needs a canonical form (the same page is crawled as
``http://Example.com/a//b?utm_source=x`` and ``example.com/a/b``), and
corpus balance needs per-registered-domain caps so one content farm can't
dominate the training mix. Everything here is built from
``pyspark.sql.functions`` string/array expressions — whole-stage codegen,
no Python in the hot path, and every rule is mirrored 1:1 by an ANSI-SQL
oracle (see ``url_normalize_docs`` / ``url_domain_cap`` in
``__spark_entry__.py``).

Normalization rules (deliberately order-independent so Spark and the SQL
oracle agree byte-for-byte):

- scheme + host lowercased; ``www.`` stripped from the host for the
  registered domain only (the canonical URL keeps the host as-crawled
  minus case);
- default ports dropped (``:80`` for http, ``:443`` for https), other
  ports kept;
- path: runs of ``/`` collapsed, trailing ``/`` stripped (root stays
  ``/``), empty path becomes ``/``;
- query: split on ``&``, empty pairs and tracking parameters removed
  (``utm_*`` prefix plus a fixed blocklist), survivors sorted
  lexicographically and re-joined — so param order never splits a group;
- fragment always dropped.

``registered_domain`` approximates the public-suffix list with the
two-label rule plus an embedded table of common multi-part suffixes
(``co.uk``-style). The full PSL is a data file, not an algorithm change —
at deploy time it broadcasts the same way this table folds into the
expression.

``domain_cap_sample`` keeps a deterministic ``cap`` docs per domain by
ranking on ``md5(doc_id)`` — a seeded uniform shuffle both engines can
reproduce (Spark md5 == DuckDB md5). One window shuffle on the domain key;
at 100 TB that is one repartition by a low-cardinality-ish key, with AQE
skew split handling mega-domains.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# fixed blocklist (exact param names); utm_* is handled as a prefix rule
TRACKING_PARAMS = (
    "gclid",
    "fbclid",
    "msclkid",
    "igshid",
    "mc_cid",
    "mc_eid",
    "ref",
    "ref_src",
)

# common multi-part public suffixes (two labels that are themselves a
# suffix, so the registered domain takes three labels)
MULTIPART_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk",
    "co.jp", "ne.jp", "or.jp", "ac.jp",
    "com.au", "net.au", "org.au", "edu.au",
    "co.nz", "org.nz", "net.nz",
    "com.br", "com.mx", "com.ar", "com.tr",
    "co.in", "co.za", "co.kr", "co.id", "co.th",
    "com.cn", "com.tw", "com.sg", "com.hk", "com.my",
)


def registered_domain(host: Column) -> Column:
    """eTLD+1 under the embedded suffix table: ``www.`` stripped, last two
    labels — or three when the last two are a known multi-part suffix."""
    h = F.regexp_replace(host, r"^www\.", "")
    labels = F.split(h, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(".", F.element_at(labels, -2), F.element_at(labels, -1))
    last3 = F.concat_ws(
        ".", F.element_at(labels, -3), F.element_at(labels, -2), F.element_at(labels, -1)
    )
    return (
        F.when((n >= 3) & last2.isin(*MULTIPART_SUFFIXES), last3)
        .when(n >= 2, last2)
        .otherwise(h)
    )


def parse_urls(df: DataFrame, url_col: str, prefix: str = "url_") -> DataFrame:
    """Add ``{prefix}scheme/host/domain/path/query/canonical`` columns.

    Pure narrow projection — no shuffle, no UDF.
    """
    url = F.col(url_col)
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    rest = F.regexp_replace(url, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    hostport = F.regexp_extract(rest, r"^([^/?#]*)", 1)
    host = F.lower(F.regexp_extract(hostport, r"^([^:]*)", 1))
    port = F.regexp_extract(hostport, r":(\d+)$", 1)
    # default-port strip
    port_kept = F.when(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
        | (port == ""),
        F.lit(""),
    ).otherwise(F.concat(F.lit(":"), port))
    raw_path = F.regexp_extract(rest, r"^[^/?#]*(/[^?#]*)", 1)
    # collapse // runs, strip trailing slash (root stays '/')
    path = F.regexp_replace(raw_path, r"/{2,}", "/")
    path = F.when(
        (F.length(path) > 1), F.regexp_replace(path, r"/$", "")
    ).otherwise(path)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query_raw = F.regexp_extract(url, r"\?([^#]*)", 1)
    params = F.array_sort(
        F.filter(
            F.split(query_raw, "&"),
            lambda p: (p != "")
            & ~F.split(p, "=").getItem(0).startswith("utm_")
            & ~F.split(p, "=").getItem(0).isin(*TRACKING_PARAMS),
        )
    )
    query = F.array_join(params, "&")
    canonical = F.concat(
        F.when(scheme == "", F.lit("http")).otherwise(scheme),
        F.lit("://"),
        host,
        port_kept,
        path,
        F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), query)),
    )
    return df.withColumns(
        {
            f"{prefix}scheme": scheme,
            f"{prefix}host": host,
            f"{prefix}domain": registered_domain(host),
            f"{prefix}path": path,
            f"{prefix}query": query,
            f"{prefix}canonical": canonical,
        }
    )


def domain_cap_sample(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    cap: int,
) -> DataFrame:
    """Keep a deterministic uniform sample of at most ``cap`` rows per
    domain: rank rows inside each domain by ``md5(id)`` (tie-broken by id)
    and keep rank <= cap. One window shuffle on the domain key."""
    from pyspark.sql import Window

    w = Window.partitionBy(domain_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= cap)
        .drop("__r")
    )
