"""Crawl-tier URL operators: parse, canonicalize, dedup, frontier filter,
snapshot diff, and HTML boilerplate stripping.

The documents table carries no URL column, so every operator derives a
deterministic synthetic URL per doc_id (www/port/tracking-param/fragment/
extension variants chosen by doc_id moduli). The host and page moduli
divide 250, so at sf0.01 (doc_id 0..499) the pairs (d, d+250) hit the SAME
logical page through DIFFERENT surface URLs — canonicalization has real
duplicates to merge, exactly the shape a crawl frontier sees.

Everything here is per-row JVM string arithmetic (regexp_extract /
regexp_replace / concat) — narrow passes with zero Python and zero
shuffles; only the dedup/host-stats groupBys exchange, keyed on canonical
URL / registered domain with map-side partial aggregation. At 100 TB these
are scan-speed operators.

Oracle parity: the synthesis + regex chains are mirrored token-for-token
in DuckDB SQL (see SYNTH_URL_SQL / __spark_entry__.py). Patterns stay in
the RE2-safe subset (no lookaround, no backrefs) so Java regex and RE2
agree; DuckDB regexp_replace gets the 'g' flag wherever Spark's global
default applies.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spider_spark.catalog import Catalog

BLOCKED_HOSTS = ("site3.example.com", "site7.example.com")


def synth_url() -> Column:
    """Deterministic URL for a documents row (needs doc_id)."""
    d = F.col("doc_id")
    sub = F.when(d % 7 == 0, F.lit("www.")).otherwise(F.lit(""))
    host = F.concat(sub, F.lit("site"), (d % 10).cast("string"), F.lit(".example.com"))
    port = (
        F.when(d % 4 == 0, F.lit(":443"))
        .when(d % 4 == 1, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    deep = F.when(d % 9 == 4, F.lit("/a/b")).otherwise(F.lit(""))
    ext = F.when(d % 8 == 5, F.lit(".jpg")).otherwise(F.lit(".html"))
    path = F.concat(
        deep,
        F.lit("/s"),
        (d % 5).cast("string"),
        F.lit("/page"),
        (d % 250).cast("string"),
        ext,
    )
    page = (d % 250).cast("string")
    query = (
        F.when(d % 3 == 0, F.concat(F.lit("?utm_source=feed&id="), page))
        .when(d % 3 == 1, F.concat(F.lit("?id="), page, F.lit("&utm_campaign=news")))
        .otherwise(F.lit(""))
    )
    frag = F.when(d % 6 == 2, F.lit("#section")).otherwise(F.lit(""))
    return F.concat(F.lit("https://"), host, port, path, query, frag)


# DuckDB mirror of synth_url() — identical component order and moduli.
SYNTH_URL_SQL = """
    'https://'
    || CASE WHEN doc_id % 7 = 0 THEN 'www.' ELSE '' END
    || 'site' || CAST(doc_id % 10 AS VARCHAR) || '.example.com'
    || CASE WHEN doc_id % 4 = 0 THEN ':443'
            WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END
    || CASE WHEN doc_id % 9 = 4 THEN '/a/b' ELSE '' END
    || '/s' || CAST(doc_id % 5 AS VARCHAR)
    || '/page' || CAST(doc_id % 250 AS VARCHAR)
    || CASE WHEN doc_id % 8 = 5 THEN '.jpg' ELSE '.html' END
    || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 250 AS VARCHAR)
            WHEN doc_id % 3 = 1 THEN '?id=' || CAST(doc_id % 250 AS VARCHAR) || '&utm_campaign=news'
            ELSE '' END
    || CASE WHEN doc_id % 6 = 2 THEN '#section' ELSE '' END
"""


def canonicalize(url: Column) -> Column:
    """Crawl canonical form: drop fragment, default :443 port, www.
    subdomain, and utm_* tracking params; tidy dangling ?/& separators."""
    u = F.regexp_replace(url, "#.*$", "")
    u = F.regexp_replace(u, ":443/", "/")
    u = F.regexp_replace(u, "://www\\.", "://")
    u = F.regexp_replace(u, "utm_[a-z]+=[^&#]*&?", "")
    u = F.regexp_replace(u, "\\?&", "?")
    return F.regexp_replace(u, "[?&]$", "")


CANON_SQL_TEMPLATE = (
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
    "regexp_replace(regexp_replace({url}, '#.*$', ''),"
    " ':443/', '/'),"
    " '://www\\.', '://'),"
    " 'utm_[a-z]+=[^&#]*&?', '', 'g'),"
    " '\\?&', '?'),"
    " '[?&]$', '')"
)


def _with_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Catalog(spark, sf_dir).documents
    return docs.select("doc_id", synth_url().alias("url"))


def url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural URL decomposition: scheme/host/registered domain/port/
    path/query/fragment + path depth and a media-extension flag.

    Pure regexp_extract over one narrow scan — no shuffle at any scale.
    """
    df = _with_url(spark, sf_dir)
    host = F.regexp_extract("url", "^[a-z]+://([^/:?#]+)", 1)
    path = F.regexp_extract("url", "^[a-z]+://[^/?#]+([^?#]*)", 1)
    return df.select(
        "doc_id",
        "url",
        F.regexp_extract("url", "^([a-z]+)://", 1).alias("scheme"),
        host.alias("host"),
        F.regexp_replace(host, "^www\\.", "").alias("domain"),
        F.nullif(
            F.regexp_extract("url", "^[a-z]+://[^/:?#]+:([0-9]+)", 1), F.lit("")
        )
        .cast("long")
        .alias("port"),
        path.alias("path"),
        F.regexp_extract("url", "\\?([^#]*)", 1).alias("query"),
        F.regexp_extract("url", "#(.*)$", 1).alias("fragment"),
        (F.length(path) - F.length(F.regexp_replace(path, "/", "")))
        .cast("long")
        .alias("path_depth"),
        path.endswith(".jpg").alias("is_media"),
    )


def url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical URL + per-canonical duplicate grouping (count, keeper =
    min doc_id). One groupBy keyed on the canonical string — map-side
    partial agg, shuffle volume = distinct canonical URLs."""
    df = _with_url(spark, sf_dir).select(
        "doc_id", "url", canonicalize(F.col("url")).alias("url_canon")
    )
    groups = df.groupBy("url_canon").agg(
        F.count("*").cast("long").alias("n_variants"),
        F.min("doc_id").alias("keeper_doc_id"),
    )
    return df.join(groups, "url_canon").select(
        "doc_id", "url", "url_canon", "n_variants", "keeper_doc_id"
    )


def host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registered-domain crawl inventory: page count, distinct
    canonical pages, mean path depth, media + tracking-param shares."""
    p = url_parse(spark, sf_dir).select(
        "doc_id", "url", "domain", "path_depth", "is_media", "query"
    )
    canon = canonicalize(F.col("url"))
    return (
        p.groupBy("domain")
        .agg(
            F.count("*").cast("long").alias("n_pages"),
            F.countDistinct(canon).cast("long").alias("n_canonical"),
            F.round(F.avg("path_depth"), 4).alias("avg_depth"),
            F.sum(F.when(F.col("is_media"), 1).otherwise(0)).alias("n_media"),
            F.sum(F.when(F.col("query").contains("utm_"), 1).otherwise(0)).alias(
                "n_tracked"
            ),
        )
    )


def url_frontier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier admission filter: drop blocklisted hosts (broadcast hash
    lookup — the corpus side never shuffles), media extensions, and
    over-deep paths; emit the admitted canonical frontier."""
    p = url_parse(spark, sf_dir)
    blocked = spark.createDataFrame(
        [(h,) for h in BLOCKED_HOSTS], "domain string"
    )
    kept = (
        p.filter(~F.col("is_media") & (F.col("path_depth") <= 2))
        .join(F.broadcast(blocked), "domain", "left_anti")
    )
    return kept.select(
        "doc_id", "domain", canonicalize(F.col("url")).alias("url_canon")
    )


def crawl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-crawl incremental diff: snapshot A (doc_id % 5 != 4) vs
    snapshot B (doc_id % 5 != 3, with doc_id % 7 == 2 pages re-rendered),
    classified added / removed / changed / unchanged by content digest.

    Full-outer join keyed on doc_id — the exact shape of a recrawl
    reconciliation over two partitioned snapshots; both sides shuffle
    once on the join key.
    """
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    a = docs.filter(F.col("doc_id") % 5 != 4).select(
        "doc_id", F.md5("text").alias("fp_a")
    )
    b = docs.filter(F.col("doc_id") % 5 != 3).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 7 == 2, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text"))
        ).alias("fp_b"),
    )
    j = a.join(b, "doc_id", "full_outer")
    status = (
        F.when(F.col("fp_a").isNull(), F.lit("added"))
        .when(F.col("fp_b").isNull(), F.lit("removed"))
        .when(F.col("fp_a") == F.col("fp_b"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select("doc_id", status.alias("status"))


def html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate stripping over synthetic HTML renderings: drop script
    blocks and comments, strip tags, collapse whitespace. Narrow per-row
    regex chain — scan-speed at any scale."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><script>var x=1;</script></head><body><h1>T</h1><p>"),
        F.col("text"),
        F.lit('</p><!-- nav --><div class="nav">home about</div></body></html>'),
    )
    clean = F.regexp_replace(html, "<script>.*?</script>", " ")
    clean = F.regexp_replace(clean, "<!--.*?-->", " ")
    clean = F.regexp_replace(clean, "<[^>]*>", " ")
    clean = F.trim(F.regexp_replace(clean, "\\s+", " "))
    return docs.select(
        "doc_id",
        F.length(html).cast("long").alias("n_raw"),
        F.length(clean).cast("long").alias("n_clean"),
        F.substring(clean, 1, 60).alias("clean_prefix"),
    )


def url_spam_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic URL spam scoring — the frontier-prioritisation signal a
    crawler computes before fetching anything: integer points for deep
    paths, parameter-heavy queries, tracking params, digit-dense paths
    and media extensions; is_spam flags the worst tier. Pure integer
    column arithmetic over one narrow scan (exact oracle parity, no FP
    weights)."""
    p = url_parse(spark, sf_dir).select(
        "doc_id", "url", "path", "query", "path_depth", "is_media"
    )
    n_params = F.when(F.col("query") == "", 0).otherwise(
        F.size(F.split(F.col("query"), "&"))
    )
    n_digits = F.length(F.regexp_replace(F.col("path"), "[^0-9]", ""))
    score = (
        F.when(F.col("path_depth") >= 3, 2).otherwise(0)
        + F.when(n_params >= 2, 1).otherwise(0)
        + F.when(F.col("query").contains("utm_"), 2).otherwise(0)
        + F.when(n_digits > 3, 1).otherwise(0)
        + F.when(F.col("is_media"), 1).otherwise(0)
    ).cast("long")
    return p.select(
        "doc_id",
        "url",
        n_params.cast("long").alias("n_params"),
        n_digits.cast("long").alias("n_path_digits"),
        score.alias("spam_score"),
        (score >= 4).alias("is_spam"),
    )


def domain_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain reputation: spam-URL rate, fetch success rate, and
    media share folded into integer reputation points — the signal a
    frontier scheduler uses to throttle or deprioritise a host. One
    rollup per family joined on the (small) domain grain; every input
    is itself oracle-checked (url_spam_score, fetch_stats)."""
    from spider_spark.text.fetch import fetch_stats

    spam = url_spam_score(spark, sf_dir).select(
        "doc_id",
        F.regexp_replace(
            F.regexp_extract("url", "^[a-z]+://([^/:?#]+)", 1), "^www\\.", ""
        ).alias("domain"),
        "is_spam",
    )
    per_dom = spam.groupBy("domain").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.sum(F.when(F.col("is_spam"), 1).otherwise(0)).cast("long").alias("n_spam"),
    )
    health = fetch_stats(spark, sf_dir).select(
        "domain", "n_fetches", "n_ok", "success_rate"
    )
    j = per_dom.join(health, "domain")
    spam_bp = F.floor(F.col("n_spam") * 10000 / F.col("n_pages")).cast("long")
    ok_bp = F.floor(F.col("n_ok") * 10000 / F.col("n_fetches")).cast("long")
    points = (
        F.when(spam_bp >= 3000, -2).when(spam_bp >= 1000, -1).otherwise(0)
        + F.when(ok_bp >= 9000, 2).when(ok_bp >= 7000, 1).otherwise(-1)
    ).cast("long")
    return j.select(
        "domain",
        "n_pages",
        spam_bp.alias("spam_bp"),
        ok_bp.alias("ok_bp"),
        points.alias("reputation"),
    )


def rendezvous_assign(hosts: DataFrame, n_shards: int) -> DataFrame:
    """(host, shard) via rendezvous / highest-random-weight hashing:
    shard = argmax over s of md5(host ':' s). Unlike `hash(host) % N`,
    resizing the shard pool only moves the hosts that were on the
    removed shard (minimal-disruption property, tested).

    Scale shape: distinct hosts × a constant shard list (narrow
    explode), argmax inside the per-host window after one shuffle keyed
    on host — no global sort, no driver state.
    """
    from pyspark.sql import Window

    # explode in its own select (generators can't nest inside a cast)
    cand = (
        hosts.select(
            "host",
            F.explode(F.sequence(F.lit(0), F.lit(n_shards - 1))).alias("shard_i"),
        )
        .select("host", F.col("shard_i").cast("long").alias("shard"))
    ).withColumn(
        "weight",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("host"), F.lit(":"), F.col("shard").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
    )
    pick = Window.partitionBy("host").orderBy(F.desc("weight"), F.asc("shard"))
    return (
        cand.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select("host", "shard")
    )


def rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawler shard assignment + load inventory: every host is pinned
    to one of 8 fetcher shards by rendezvous hashing (so a
    shard-pool resize re-routes the minimum number of hosts, and every
    fetcher can compute any host's owner without coordination), then the
    corpus is rolled up per shard: hosts, docs, and characters carried.

    The doc→shard attach is a keyed join on host (hosts at web scale are
    ~10⁸ rows — joinable, not broadcastable; Spark picks sort-merge or
    shuffled-hash under AQE).
    """
    p = url_parse(spark, sf_dir).select("doc_id", "host")
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "n_chars")
    assign = rendezvous_assign(p.select("host").distinct(), 8)
    return (
        p.join(docs, "doc_id")
        .join(assign, "host")
        .groupBy("shard")
        .agg(
            F.countDistinct("host").cast("long").alias("n_hosts"),
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


def url_pattern_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host URL path-template mining: collapse digit runs in the
    path to 'N' and count URLs per (host, template). Crawlers use this
    to spot infinite URL spaces (calendars, session ids, pagination) and
    to allocate budget per template rather than per raw URL.

    One narrow regexp pass then a single groupBy keyed on
    (host, template) — map-side partial agg; shuffle volume is the
    distinct template count, tiny relative to the URL table.
    """
    p = url_parse(spark, sf_dir).select("host", "path")
    template = F.regexp_replace("path", "[0-9]+", "N")
    return (
        p.select("host", template.alias("template"), "path")
        .groupBy("host", "template")
        .agg(
            F.count("*").cast("long").alias("n_urls"),
            F.countDistinct("path").cast("long").alias("n_distinct_paths"),
        )
    )


FRONTIER_BUDGET = 10000  # total fetches to allocate per scheduling round


def crawl_frontier_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer fetch-budget allocation across domains by largest-
    remainder (Hamilton) apportionment: each domain's weight is its
    reputation signal (success rate minus spam rate, floored at 1), the
    budget splits proportionally, floors are handed out first, and the
    leftover units go to the largest remainders (domain tiebreak). The
    allocation is pure integer arithmetic, so it is bit-identical across
    engines AND across reruns — a frontier scheduler can recompute it
    anywhere without coordination, and the total always sums exactly to
    FRONTIER_BUDGET.

    Scale shape: the domain grain is small (~10^7 rows at web scale);
    one aggregate produces the weight total (1-row scalar broadcast),
    one window ranks remainders. Nothing touches the page-level tables.
    """
    from pyspark.sql import Window

    rep = domain_reputation(spark, sf_dir).select(
        "domain",
        F.greatest(F.col("ok_bp") - F.col("spam_bp"), F.lit(0)).cast("long") + 1,
    )
    rep = rep.toDF("domain", "weight")
    total = rep.agg(F.sum("weight").cast("long").alias("w_total"))
    j = rep.crossJoin(F.broadcast(total))
    # integer division (DIV), not float-divide-then-truncate: the
    # allocation must be exact integer arithmetic in both engines
    base = F.expr(f"weight * {FRONTIER_BUDGET} DIV w_total").cast("long")
    rem = (F.col("weight") * FRONTIER_BUDGET) % F.col("w_total")
    alloc = j.select(
        "domain",
        "weight",
        "w_total",
        base.alias("base"),
        rem.alias("rem"),
    )
    # leftover = budget - Σbase, distributed to the top remainders
    leftover = F.col("leftover_total")
    totals = alloc.agg(
        (F.lit(FRONTIER_BUDGET) - F.sum("base")).cast("long").alias("leftover_total")
    )
    ranked = alloc.crossJoin(F.broadcast(totals)).withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.desc("rem"), F.asc("domain"))).cast("long"),
    )
    return ranked.select(
        "domain",
        "weight",
        (F.col("base") + F.when(F.col("rk") <= leftover, 1).otherwise(0))
        .cast("long")
        .alias("budget"),
    )


def ip_colocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-hosting detection: resolve each registered domain to its
    (synthetic, deterministic) server IP and profile co-location — how
    many domains share each IP and how much page volume rides on it.
    Crawl schedulers rate-limit per IP, not per domain, so co-located
    domains must share a politeness budget; spam analyses also treat
    mass co-location as a farm signal.

    Scale shape: the corpus reduces to DOMAIN grain first (one groupBy,
    #domains rows), the IP rollup is a second tiny groupBy — the
    page-grain table is never joined or self-joined.
    """
    docs = Catalog(spark, sf_dir).documents
    d = F.col("doc_id")
    domain = F.concat(
        F.lit("site"), (d % 10).cast("string"), F.lit(".example.com")
    )
    per_domain = (
        docs.select(domain.alias("domain"), "n_chars")
        .groupBy("domain")
        .agg(
            F.count("*").cast("long").alias("n_pages"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )
    site_no = F.regexp_extract("domain", "site([0-9]+)", 1).cast("long")
    with_ip = per_domain.select(
        F.concat(F.lit("10.0.0."), ((site_no * 7 + 3) % 4).cast("string")).alias("ip"),
        "domain",
        "n_pages",
        "sum_chars",
    )
    return with_ip.groupBy("ip").agg(
        F.countDistinct("domain").cast("long").alias("n_domains"),
        F.sum("n_pages").cast("long").alias("n_pages"),
        F.sum("sum_chars").cast("long").alias("sum_chars"),
        (F.countDistinct("domain") > 1).alias("shared"),
    )


IP_COLOCATION_SQL = """
    WITH per_domain AS (
        SELECT 'site' || CAST(doc_id % 10 AS VARCHAR) || '.example.com' AS domain,
               CAST(count(*) AS BIGINT) AS n_pages,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents GROUP BY 1),
    with_ip AS (
        SELECT '10.0.0.' || CAST((CAST(regexp_extract(domain, 'site([0-9]+)', 1) AS BIGINT) * 7 + 3) % 4 AS VARCHAR) AS ip,
               domain, n_pages, sum_chars
        FROM per_domain)
    SELECT ip,
           CAST(count(DISTINCT domain) AS BIGINT) AS n_domains,
           CAST(sum(n_pages) AS BIGINT) AS n_pages,
           CAST(sum(sum_chars) AS BIGINT) AS sum_chars,
           count(DISTINCT domain) > 1 AS shared
    FROM with_ip GROUP BY ip
"""
