"""Crawl-cleaning operators: URL canonicalization + line-level boilerplate
removal — the web-corpus hygiene passes a training-data pipeline runs before
document-level dedup (CCNet's paragraph-hash dedup, RefinedWeb's line-wise
filtering; the reference's analogue is per-document cleaning only, so these
are scale-path extensions in the spirit of SURVEY §2's dedup family).

Everything is pure column expressions / one explode + two-level aggregation —
zero Python on the path, corpus-linear shuffles only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.udfs import host_of

# tracking params dropped during canonicalization (the common analytics set)
TRACKING_PARAMS = (
    "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
    "gclid", "fbclid", "ref", "mc_cid", "mc_eid",
)


def canonicalize_urls(df: DataFrame, url_col: str, out_col: str = "canonical_url") -> DataFrame:
    """Add ``out_col`` with the canonical form of a crawl URL.

    Rules (each a pure string expression, applied in order):
    1. lowercase scheme and host (path/query stay case-sensitive);
    2. drop the fragment (#...);
    3. drop default ports (:80 for http, :443 for https);
    4. drop tracking query params (TRACKING_PARAMS), keep the rest in their
       original order; drop a now-empty '?';
    5. collapse duplicate slashes in the path; strip one trailing slash from
       a non-root path.

    Projected in stages so each regexp runs once (no CSE reliance), all JVM.
    """
    u = F.regexp_replace(F.col(url_col), r"#.*$", "")
    staged = df.withColumn("_u", u).withColumn(
        "_scheme", F.lower(F.regexp_extract("_u", r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    ).withColumn(
        "_host", F.lower(F.regexp_extract("_u", r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1))
    ).withColumn(
        "_rest", F.regexp_extract("_u", r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)$", 1)
    )
    staged = staged.withColumn(
        "_host",
        F.when((F.col("_scheme") == "http") & F.col("_host").endswith(":80"),
               F.col("_host").substr(F.lit(1), F.length("_host") - 3))
        .when((F.col("_scheme") == "https") & F.col("_host").endswith(":443"),
              F.col("_host").substr(F.lit(1), F.length("_host") - 4))
        .otherwise(F.col("_host")),
    )
    staged = staged.withColumn(
        "_path", F.regexp_replace(F.regexp_extract("_rest", r"^([^?]*)", 1), r"/{2,}", "/")
    ).withColumn(
        "_path",
        F.when((F.length("_path") > 1) & F.col("_path").endswith("/"),
               F.col("_path").substr(F.lit(1), F.length("_path") - 1))
        .otherwise(F.col("_path")),
    ).withColumn("_query", F.regexp_extract("_rest", r"^[^?]*\?(.*)$", 1))
    staged = staged.withColumn(
        "_qkeep",
        F.array_join(
            F.filter(
                F.split("_query", "&"),
                lambda kv: (kv != F.lit(""))
                & ~F.split(kv, "=").getItem(0).isin(*TRACKING_PARAMS),
            ),
            "&",
        ),
    )
    out = staged.withColumn(
        out_col,
        F.concat(
            F.col("_scheme"), F.lit("://"), F.col("_host"), F.col("_path"),
            F.when(F.col("_qkeep") != "", F.concat(F.lit("?"), F.col("_qkeep"))).otherwise(F.lit("")),
        ),
    )
    return out.drop("_u", "_scheme", "_host", "_rest", "_path", "_query", "_qkeep")


def url_dedup(df: DataFrame, url_col: str) -> DataFrame:
    """Canonical-URL dedup groups: (canonical_url, canonical_id, n_dups).

    Same shape as exact_dedup — one shuffle on the canonical key; the kept
    representative is the minimum original url (deterministic)."""
    return (
        canonicalize_urls(df, url_col)
        .groupBy("canonical_url")
        .agg(F.min(url_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def boilerplate_lines(
    df: DataFrame, host_col: str, text_col: str, min_pages: int = 3
) -> DataFrame:
    """Lines that repeat across ≥ ``min_pages`` distinct pages of one host —
    the CCNet/RefinedWeb boilerplate signal (nav/footer/cookie banners that
    survive extraction). Returns (host, line_hash, line, n_pages).

    Shape: explode distinct lines per page → groupBy(host, line) with
    map-side combine. At 10^12 docs the shuffle key is (host, 64-bit line
    hash) and the payload one counter — corpus-linear.
    """
    lines = df.select(
        F.col(host_col).alias("host"),
        F.explode(
            F.array_distinct(
                F.filter(F.split(F.col(text_col), r"\n"), lambda ln: F.trim(ln) != F.lit(""))
            )
        ).alias("line"),
    )
    return (
        lines.groupBy("host", "line")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .filter(F.col("n_pages") >= min_pages)
        .select("host", F.xxhash64("line").alias("line_hash"), "line", "n_pages")
    )


def strip_boilerplate_lines(
    df: DataFrame, host_col: str, text_col: str, min_pages: int = 3
) -> DataFrame:
    """Remove per-host boilerplate lines from every page's text.

    Two-pass: (1) ``boilerplate_lines`` builds the per-host denylist;
    (2) pages re-join the (broadcastable-per-host, but generally shuffled)
    denylist on host and filter their line arrays against it. The join
    carries (host, set-of-lines) — one row per host — so the second pass is
    a map-side lookup after one co-partitioned join.
    """
    deny = (
        boilerplate_lines(df, host_col, text_col, min_pages)
        .groupBy("host")
        .agg(F.collect_set("line").alias("_deny"))
    )
    joined = df.join(deny, df[host_col] == deny["host"], "left").drop(deny["host"])
    cleaned = F.array_join(
        F.filter(
            F.split(F.col(text_col), r"\n"),
            lambda ln: F.coalesce(~F.array_contains(F.col("_deny"), ln), F.lit(True)),
        ),
        "\n",
    )
    return joined.withColumn(text_col, cleaned).drop("_deny")


def blocklist_matches(
    df: DataFrame,
    url_col: str,
    blocklist: DataFrame,
    domain_col: str = "domain",
    max_labels: int = 6,
    out_col: str = "blocked_domain",
) -> DataFrame:
    """Add ``out_col``: the most-specific blocklist domain the URL's host
    falls under (``NULL`` when clean). A blocklist entry matches the host
    itself and every subdomain of it — ``example.org`` blocks
    ``example.org``, ``a.example.org``, ``b.a.example.org`` — the
    UT1/Shallalist semantics every web pipeline's URL hygiene pass applies
    before fetching or keeping a page.

    Plan shape (the 100 TB answer): NO explode, NO shuffle, NO join-back —
    the host's dot-suffixes are bounded (``max_labels`` levels), so the
    lookup is ``max_labels`` consecutive broadcast HASH joins, one per
    suffix length, each map-side (a NULL suffix — host shorter than the
    level — simply never matches). Corpus rows stream through once;
    compare a single exploded-suffix join, which must shuffle the matched
    rows back onto the corpus to restore one-row-per-url. The most-specific
    (longest) match wins via coalesce ordered from deepest suffix down;
    specificity ties are impossible (one string equals one suffix).

    The blocklist is the broadcast dimension (10^5-10^6 rows — the
    published lists' scale). Hosts deeper than ``max_labels`` labels match
    on their last ``max_labels`` suffixes only; raise it for exotic zones.
    """
    reserved = [c for c in df.columns if c.startswith("_bl_") or c == "_host_labels"]
    if reserved:
        raise ValueError(f"blocklist_matches: reserved column names in input: {reserved}")
    if out_col in df.columns:
        raise ValueError(f"blocklist_matches: out_col collides: {out_col}")
    labels = F.split(host_of(F.col(url_col)), r"\.")
    out = df.withColumn("_host_labels", labels)
    nl = F.size("_host_labels")
    # lowercase + distinct the dim once: hosts compare lowercased, and a
    # duplicate blocklist entry must not duplicate corpus rows in the join.
    # The dedup materializes eagerly (the decontam localCheckpoint
    # precedent) so its one tiny shuffle never appears in the corpus plan —
    # the lookup itself stays exchange-free
    bl = (
        blocklist.select(F.lower(F.col(domain_col)).alias("_bl_d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for i in range(1, max_labels + 1):
        suffix_i = F.when(
            nl >= i, F.array_join(F.slice("_host_labels", -i, i), ".")
        )
        bl_i = F.broadcast(
            bl.select(
                F.col("_bl_d").alias(f"_bl_k{i}"),
                F.col("_bl_d").alias(f"_bl_m{i}"),
            )
        )
        out = out.withColumn(f"_bl_s{i}", suffix_i).join(
            bl_i, F.col(f"_bl_s{i}") == F.col(f"_bl_k{i}"), "left"
        )
    # deepest suffix first: the most specific listed domain wins
    match = F.coalesce(
        *[F.col(f"_bl_m{i}") for i in range(max_labels, 0, -1)]
    )
    drop = ["_host_labels"] + [
        c for i in range(1, max_labels + 1) for c in (f"_bl_s{i}", f"_bl_k{i}", f"_bl_m{i}")
    ]
    return out.withColumn(out_col, match).drop(*drop)


def blocklist_filter(
    df: DataFrame,
    url_col: str,
    blocklist: DataFrame,
    domain_col: str = "domain",
    max_labels: int = 6,
) -> DataFrame:
    """Rows of ``df`` whose URL host is NOT under any blocklist domain —
    original columns, original values (the keep side of
    ``blocklist_matches``; use the matches form for the audit report)."""
    return (
        blocklist_matches(df, url_col, blocklist, domain_col, max_labels)
        .filter(F.col("blocked_domain").isNull())
        .drop("blocked_domain")
    )
