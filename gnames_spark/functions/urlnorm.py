"""URL canonicalization + latest-snapshot selection (crawl hygiene).

A Common-Crawl-style corpus keys pages by (url, warc_ts); the same
logical page arrives many times as `HTTP://WWW.Site.com/a/?utm_src=x`,
`http://site.com/a`, `https://site.com:443/a#frag`, across many crawl
timestamps. Before any content dedup, production pipelines collapse
these: canonicalize the URL, keep the newest snapshot per canonical
key. (The reference's analog is its 3-level canonical name form —
`/root/reference/migrations/gnames.hcl:1-42` — the same precompute-a-
match-key move, applied here to URLs instead of names.)

Canonicalization contract (frozen; each step is a deterministic string
transform expressible in both Spark SQL and the DuckDB oracle):
  1. strip the fragment (`#...`);
  2. lowercase scheme and authority (path/query case is preserved —
     paths are case-sensitive on most origins);
  3. drop a leading `www.` host label;
  4. drop the scheme-default port (`:443` for https, `:80` for http);
  5. drop tracking query params (`utm_*`, `fbclid`, `gclid`, `ref`),
     sort the survivors bytewise, rejoin with `&` (query param order
     is not semantic);
  6. strip trailing `/` runs from the path.

Everything is pure Catalyst (regex + array ops inside whole-stage
codegen); snapshot selection is a ``groupBy(canonical).agg(max_by)``
— no window, so a URL recrawled 10^6 times is one combiner cell, not
one task (the skew-safe representative idiom from
operators/representatives.py:43).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Query params that never identify content. Anchored at '^name='.
TRACKING_PARAM_RE = "^(utm_[a-z0-9_]*|fbclid|gclid|ref)="


def canonical_url(col: str = "url") -> Column:
    """Canonical form of ``col`` per the module contract.

    A value with no ``scheme://`` (not a crawlable URL — data-table
    keys like ``doc://123`` have one; raw hostnames do not) passes
    through unchanged rather than canonicalizing to a degenerate
    empty-ish string that would collide unrelated rows."""
    no_frag = f"regexp_replace({col}, '#.*', '')"
    auth = f"lower(regexp_extract({no_frag}, '^([^:/?#]+://[^/?#]*)', 1))"
    auth = f"regexp_replace({auth}, '://www\\\\.', '://')"
    auth = (
        f"regexp_replace(regexp_replace({auth}, "
        f"'^(https://[^:/]+):443$', '$1'), '^(http://[^:/]+):80$', '$1')"
    )
    rest = f"regexp_extract({no_frag}, '^[^:/?#]+://[^/?#]*(.*)$', 1)"
    path = f"regexp_replace(regexp_replace({rest}, '\\\\?.*', ''), '/+$', '')"
    raw_q = f"try_element_at(split({rest}, '\\\\?', 2), 2)"
    keep = (
        f"filter(split(coalesce({raw_q}, ''), '&'), "
        f"p -> p != '' AND NOT p rlike '{TRACKING_PARAM_RE}')"
    )
    query = f"array_join(array_sort({keep}), '&')"
    return F.expr(
        f"CASE WHEN {col} NOT RLIKE '^[^:/?#]+://' THEN {col} ELSE "
        f"concat({auth}, {path}, "
        f"CASE WHEN {query} = '' THEN '' ELSE concat('?', {query}) END) END"
    )


def latest_snapshot(
    docs: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    id_col: str = "doc_id",
) -> DataFrame:
    """Newest snapshot per canonical URL.

    Returns one row per canonical URL: (canonical_url, n_snapshots,
    <all input columns of the winning row>). "Newest" is max
    (ts, id) — the id tiebreak pins determinism when two captures
    share a timestamp. One map-side-combinable aggregation; the full
    winning row rides inside the ``max_by`` struct so there is no
    join-back pass.
    """
    canon = docs.withColumn("canonical_url", canonical_url(url_col))
    row = F.struct(*[F.col(c) for c in docs.columns])
    return (
        canon.groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_snapshots"),
            F.max_by(row, F.struct(F.col(ts_col), F.col(id_col))).alias("w"),
        )
        .select("canonical_url", "n_snapshots", "w.*")
    )


def _host_sql(col: str) -> str:
    host = f"lower(regexp_extract({col}, '^[^:/?#]+://([^/:?#]+)', 1))"
    return (
        f"CASE WHEN {col} RLIKE '^[^:/?#]+://' THEN "
        f"regexp_replace({host}, '^www\\\\.(?=.*\\\\.)', '') END"
    )


def url_host(col: str = "url") -> Column:
    """Lowercase host of ``col`` (port and a leading ``www.`` label
    stripped, unless one label would remain: ``www.com`` stays); NULL
    for values with no ``scheme://``."""
    return F.expr(_host_sql(col))


def _norm_blocklist_entry(d: str) -> str:
    """Normalize a blocklist entry the way url_host normalizes hosts:
    lowercase, strip leading dots, strip one leading 'www.' label unless
    one label would remain ('www.com' stripped to 'com' would block the
    whole TLD)."""
    e = d.lower().lstrip(".")
    return e[4:] if e.startswith("www.") and "." in e[4:] else e


def filter_blocked_domains(
    docs: DataFrame,
    blocklist: list[str] | DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop docs whose URL host matches a blocked domain — exactly, or
    as any-subdomain-of (``bad.example.com`` blocks
    ``a.b.bad.example.com``). The standard crawl-hygiene blocklist gate
    (spam / SEO-farm / adult domain lists).

    Mechanics: each host explodes into its dotted suffixes
    (``a.b.c`` → ``a.b.c``, ``b.c``, ``c``), which left-semi join the
    blocklist to find hit ids; the docs side then anti-joins the hits.
    The match is an equi-join, never a LIKE scan, and the blocklist
    side broadcasts (real lists are ≤ millions of rows; Spark falls
    back to a shuffled join past the threshold). Docs with no
    parseable host pass through (the gate blocks crawl URLs, not
    data-table keys)."""
    spark = docs.sparkSession
    if isinstance(blocklist, list):
        # entries get the SAME normalization as extracted hosts (lower
        # + leading-dot strip + one leading 'www.' label unless one
        # label would remain), so a
        # user-supplied 'www.bad.com' blocks bad.com and its subdomains
        # instead of silently never matching
        bl = spark.createDataFrame(
            [(_norm_blocklist_entry(d),) for d in blocklist], ["_blocked"]
        )
    else:
        bl = blocklist.toDF("_blocked").select(
            F.regexp_replace(
                F.regexp_replace(F.lower("_blocked"), r"^\.+", ""),
                r"^www\.(?=.*\.)",
                "",
            ).alias("_blocked")
        )
    labels = f"split({_host_sql(url_col)}, '\\\\.')"
    suffixes = F.expr(
        f"transform(sequence(1, size({labels})), "
        f"i -> array_join(slice({labels}, i, size({labels})), '.'))"
    )
    hit = (
        docs.select(id_col, F.explode(suffixes).alias("_blocked"))
        .join(F.broadcast(bl), "_blocked", "left_semi")
        .select(id_col)
        .distinct()
    )
    return docs.join(hit, id_col, "left_anti")
