"""Certified queries for the web-crawl text-extraction operators: URL
parsing / registrable-domain rollups and HTML tag stripping.

No reference counterpart (the reference ingests flow telemetry and AWS
inventories, not crawl pages) — these are the standard front half of an
LLM training-data pipeline: every crawl-derived corpus is keyed by URL
(dedup by registrable domain, per-site quality quotas, ref-tag
attribution) and starts from markup that must be stripped before any
text statistic is meaningful. Both queries synthesize their raw inputs
DETERMINISTICALLY from the ``documents`` fixture (pure string
concatenation, so the DuckDB oracle rebuilds byte-identical inputs) and
then certify the parse itself:

- ``q_url_parse`` — the ENGINE side goes through Spark's native
  ``parse_url`` (HOST / PATH / QUERY-key extraction, JVM codegen, no
  Python) plus ``split_part`` / ``substring_index`` for the
  registrable-domain cut; the oracle re-derives the same fields with
  portable string ops. A hash-mismatch would catch any divergence
  between Spark's URL parser and the documented field semantics.
- ``q_html_strip`` — three-stage regexp strip (script blocks, then
  comments, then tags) with per-source char/tag accounting. The
  patterns are chosen inside the RE2 ∩ Java-regex common subset
  (non-greedy ``.*?``, no backrefs) so both engines execute the same
  automaton.

Scale shape: both are pure per-row projections feeding one hash
aggregate — no shuffle beyond the final groupBy, whole-stage codegen
end to end (no Python in either path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .registry import register

URL_EXPR = (
    "concat('https://', source, '.example.', lang, '/docs/', "
    "CAST(doc_id % 37 AS STRING), '/', CAST(doc_id AS STRING), "
    "'?ref=', CASE WHEN doc_id % 3 = 0 THEN 'crawl' ELSE 'feed' END)"
)


def q_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse synthesized crawl URLs with Spark's native ``parse_url``
    and roll up per (registrable domain, ref tag): doc count, distinct
    full hosts, total chars, max path depth. The registrable domain is
    the last two host labels (``substring_index(host, '.', -2)``) — the
    per-site key a crawl pipeline quotas and dedups on."""
    docs = load_table(spark, sf_dir, "documents")
    parsed = docs.withColumn("url", F.expr(URL_EXPR)).select(
        "doc_id",
        "n_chars",
        F.expr("parse_url(url, 'HOST')").alias("host"),
        F.expr("parse_url(url, 'PATH')").alias("path"),
        F.expr("parse_url(url, 'QUERY', 'ref')").alias("ref"),
    )
    return (
        parsed.select(
            "doc_id",
            "n_chars",
            "ref",
            F.substring_index("host", ".", -2).alias("site"),
            "host",
            (
                F.length("path")
                - F.length(F.regexp_replace("path", "/", ""))
            ).alias("depth"),
        )
        .groupBy("site", "ref")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("host").alias("n_hosts"),
            F.sum("n_chars").alias("chars"),
            F.max("depth").alias("max_depth"),
        )
    )


register(
    "q_url_parse",
    q_url_parse,
    rf"""
    WITH u AS (
        SELECT doc_id, n_chars,
               {URL_EXPR.replace("AS STRING", "AS VARCHAR")} AS url
        FROM documents
    ),
    p AS (
        SELECT doc_id, n_chars,
               regexp_extract(url, '://([^/]+)/', 1) AS host,
               regexp_extract(url, '://[^/]+(/[^?]*)', 1) AS path,
               regexp_extract(url, '\?ref=(.*)$', 1) AS ref
        FROM u
    )
    SELECT regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS site,
           ref,
           count(*) AS n_docs,
           count(DISTINCT host) AS n_hosts,
           CAST(sum(n_chars) AS BIGINT) AS chars,
           CAST(max(length(path) - length(replace(path, '/', '')))
                AS INTEGER) AS max_depth
    FROM p
    GROUP BY 1, 2
    """,
)

HTML_EXPR = (
    "concat('<html><head><title>', source, "
    "'</title><script>var x=1;</script></head><body><h1 class=\"t\">Doc ', "
    "CAST(doc_id AS STRING), '</h1><p>', "
    "replace(text, 'data', '<b>data</b>'), "
    "'</p><!-- crawl --></body></html>')"
)


def q_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strip markup from synthesized HTML pages in three regexp passes
    (script blocks → comments → tags) and account per source: pages,
    raw vs cleaned chars, tags removed. The cleaned text is exactly the
    visible text a crawl extractor feeds the quality/dedup stages."""
    docs = load_table(spark, sf_dir, "documents")
    pages = docs.withColumn("html", F.expr(HTML_EXPR))
    cleaned = pages.withColumn(
        "clean",
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace("html", "<script[^>]*>.*?</script>", ""),
                "<!--.*?-->",
                "",
            ),
            "<[^>]*>",
            "",
        ),
    )
    return (
        cleaned.select(
            "source",
            F.length("html").alias("raw_len"),
            F.length("clean").alias("clean_len"),
            F.regexp_count("html", F.lit("<[^>]*>")).alias("n_tags"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum("raw_len").alias("raw_chars"),
            F.sum("clean_len").alias("clean_chars"),
            F.sum("n_tags").alias("tags"),
        )
    )


register(
    "q_html_strip",
    q_html_strip,
    f"""
    WITH pages AS (
        SELECT source,
               {HTML_EXPR.replace("AS STRING", "AS VARCHAR")} AS html
        FROM documents
    ),
    cleaned AS (
        SELECT source, html,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(html, '<script[^>]*>.*?</script>',
                                      '', 'g'),
                       '<!--.*?-->', '', 'g'),
                   '<[^>]*>', '', 'g') AS clean
        FROM pages
    )
    SELECT source,
           count(*) AS n_pages,
           CAST(sum(length(html)) AS BIGINT) AS raw_chars,
           CAST(sum(length(clean)) AS BIGINT) AS clean_chars,
           CAST(sum(length(regexp_extract_all(html, '<[^>]*>')))
                AS BIGINT) AS tags
    FROM cleaned
    GROUP BY source
    """,
)

MESSY_URL_EXPR = (
    "concat("
    "CASE WHEN doc_id % 4 = 0 THEN 'HTTPS://' ELSE 'https://' END, "
    "CASE WHEN doc_id % 4 = 1 THEN upper(source) ELSE source END, "
    "'.Example.', lang, "
    "CASE WHEN doc_id % 4 = 2 THEN ':443' ELSE '' END, "
    "'/page/', CAST(doc_id % 100 AS STRING), "
    "CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END, "
    "CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&id=7' "
    "     WHEN doc_id % 3 = 1 THEN '?id=7&utm_campaign=x' "
    "     ELSE '?id=7' END, "
    "CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END)"
)


def _canonical(col):
    """URL canonicalization as pure native expressions: lowercase
    scheme+host, strip the default :443 port, drop the #fragment,
    drop utm_* tracking params (keeping the rest of the query), strip
    a trailing slash off the path."""
    c = F.regexp_replace(col, "#.*$", "")  # fragment
    c = F.concat(
        F.lower(F.regexp_extract(c, "^([^?]*)", 1)),
        F.regexp_extract(c, "(\\?.*)?$", 1),
    )  # scheme+host+path lowercased (paths here are already lower)
    c = F.regexp_replace(c, ":443/", "/")
    # utm param strip, separator-correct: mid-query utm takes the '&'
    # AFTER it; trailing utm takes the '?'/'&' BEFORE it.
    c = F.regexp_replace(c, "utm_[a-z]+=[^&]*&", "")
    c = F.regexp_replace(c, "[?&]utm_[a-z]+=[^&]*$", "")
    c = F.regexp_replace(c, "/(\\?|$)", "$1")  # trailing slash
    return c


def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the crawl-pipeline stage BEFORE
    content dedup: case-folded hosts, default ports, utm_* tracking
    params, fragments and trailing slashes all collapse to one
    canonical URL; per canonical the variant count, distinct raw
    spellings, and the min-doc_id survivor. One projection + one hash
    aggregate — linear, the exact-dedup shape on a derived key."""
    docs = load_table(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id", F.expr(MESSY_URL_EXPR).alias("raw_url")
    ).select("doc_id", "raw_url", _canonical(F.col("raw_url")).alias("canonical"))
    return (
        urls.groupBy("canonical")
        .agg(
            F.count("*").alias("n_dups"),
            F.countDistinct("raw_url").alias("n_spellings"),
            F.min("doc_id").alias("survivor"),
        )
        .filter(F.col("n_dups") >= 2)
    )


register(
    "q_dedup_url",
    q_dedup_url,
    f"""
    WITH u AS (
        SELECT doc_id,
               {MESSY_URL_EXPR.replace("AS STRING", "AS VARCHAR")} AS raw_url
        FROM documents
    ),
    canon AS (
        SELECT doc_id, raw_url,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       lower(regexp_extract(regexp_replace(raw_url, '#.*$', ''),
                                            '^([^?]*)', 1))
                       || regexp_extract(regexp_replace(raw_url, '#.*$', ''),
                                         '(\\?.*)?$', 1),
                       ':443/', '/'),
                     'utm_[a-z]+=[^&]*&', '', 'g'),
                   '[?&]utm_[a-z]+=[^&]*$', ''),
                 '/(\\?|$)', '\\1') AS canonical
        FROM u
    )
    SELECT canonical,
           count(*) AS n_dups,
           CAST(count(DISTINCT raw_url) AS BIGINT) AS n_spellings,
           CAST(min(doc_id) AS BIGINT) AS survivor
    FROM canon
    GROUP BY canonical
    HAVING count(*) >= 2
    """,
)


DENY_SITES = ("example.de", "example.zh")
# Aimed at the synthesized path space ('/docs/<doc_id % 37>/<doc_id>') so the
# path-deny branch is LIVE: doc_id % 37 in 0..19 trips the rule, which means
# both the denylist arm and the rlike-vs-regexp_matches path arm contribute
# rows to n_denied (ADVICE r5: the old '/page/...' pattern was dead code).
DENY_PATH_RE = "/docs/(1?[0-9])/"  # low-numbered sections


def q_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl admission by domain DENYLIST + path pattern — the policy
    gate between URL canonicalization and content processing: drop
    documents whose registrable domain is denylisted or whose path
    matches a blocked pattern, and account the decision per source.
    The denylist is a broadcast-sized literal dimension (production:
    a small table joined broadcast); the path rule is one rlike — the
    whole gate is a codegen projection, no shuffle before the audit
    aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    urls = docs.select(
        "source",
        "n_chars",
        F.expr(URL_EXPR).alias("url"),
    ).select(
        "source",
        "n_chars",
        F.substring_index(
            F.expr("parse_url(url, 'HOST')"), ".", -2
        ).alias("site"),
        F.expr("parse_url(url, 'PATH')").alias("path"),
    )
    flagged = urls.withColumn(
        "denied",
        F.col("site").isin(*DENY_SITES)
        | F.col("path").rlike(DENY_PATH_RE),
    )
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count_if(F.col("denied")).alias("n_denied"),
        F.sum(F.when(~F.col("denied"), F.col("n_chars")).otherwise(0)).alias(
            "kept_chars"
        ),
    )


register(
    "q_domain_filter",
    q_domain_filter,
    f"""
    WITH u AS (
        SELECT source, n_chars,
               {URL_EXPR.replace("AS STRING", "AS VARCHAR")} AS url
        FROM documents
    ),
    p AS (
        SELECT source, n_chars,
               regexp_extract(regexp_extract(url, '://([^/]+)/', 1),
                              '([^.]+\\.[^.]+)$', 1) AS site,
               regexp_extract(url, '://[^/]+(/[^?]*)', 1) AS path
        FROM u
    ),
    f AS (
        SELECT source, n_chars,
               site IN {DENY_SITES} OR
               regexp_matches(path, '{DENY_PATH_RE}') AS denied
        FROM p
    )
    SELECT source,
           count(*) AS n_docs,
           count(*) FILTER (WHERE denied) AS n_denied,
           CAST(sum(CASE WHEN NOT denied THEN n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars
    FROM f
    GROUP BY source
    """,
)


def q_markup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup-density page-quality gate — the ratio heuristic crawl
    extractors apply before any content model: pages whose visible
    text is a small fraction of the raw HTML are boilerplate/chrome
    and get dropped. Exact integer accounting: per page, raw length,
    stripped-text length, and the keep decision text·5 ≥ raw (text is
    at least 20% of bytes), aggregated per language. Complements
    q_boilerplate (shingle-frequency boilerplate) with the byte-ratio
    gate; all codegen, no Python."""
    docs = load_table(spark, sf_dir, "documents")
    pages = docs.withColumn("html", F.expr(HTML_EXPR))
    cleaned = pages.withColumn(
        "clean",
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace("html", "<script[^>]*>.*?</script>", ""),
                "<!--.*?-->",
                "",
            ),
            "<[^>]*>",
            "",
        ),
    )
    rated = cleaned.select(
        "lang",
        F.length("html").alias("raw_len"),
        F.length("clean").alias("text_len"),
    ).withColumn("keep", F.col("text_len") * 5 >= F.col("raw_len"))
    return rated.groupBy("lang").agg(
        F.count("*").alias("n_pages"),
        F.count_if(F.col("keep")).alias("n_kept"),
        F.sum(F.when(F.col("keep"), F.col("text_len")).otherwise(0)).alias(
            "kept_text_chars"
        ),
        F.max(
            F.when(~F.col("keep"), F.col("text_len")).otherwise(
                F.lit(None).cast("int")
            )
        ).alias("max_dropped_text"),
    )


register(
    "q_markup_ratio",
    q_markup_ratio,
    f"""
    WITH pages AS (
        SELECT lang,
               {HTML_EXPR.replace("AS STRING", "AS VARCHAR")} AS html
        FROM documents
    ),
    cleaned AS (
        SELECT lang, html,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(html, '<script[^>]*>.*?</script>',
                                      '', 'g'),
                       '<!--.*?-->', '', 'g'),
                   '<[^>]*>', '', 'g') AS clean
        FROM pages
    ),
    rated AS (
        SELECT lang, length(html) AS raw_len, length(clean) AS text_len,
               length(clean) * 5 >= length(html) AS keep
        FROM cleaned
    )
    SELECT lang,
           count(*) AS n_pages,
           count(*) FILTER (WHERE keep) AS n_kept,
           CAST(sum(CASE WHEN keep THEN text_len ELSE 0 END) AS BIGINT)
               AS kept_text_chars,
           CAST(max(CASE WHEN NOT keep THEN text_len END) AS INTEGER)
               AS max_dropped_text
    FROM rated
    GROUP BY lang
    """,
)
