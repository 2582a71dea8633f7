"""Web-corpus curation: URL canonicalization, domain rollups, blocklists,
and the composed end-to-end curation plan.

North-star extension (BASELINE.json): the FIRST filters any web-crawl
training corpus hits are URL-shaped — canonicalize the URL, dedup exact
URLs, roll quality up per domain, drop blocklisted domains — before any
content-level dedup runs. The reference's documents table carries no URL,
so a deterministic URL is synthesized per doc (JVM-side, closed-form from
doc_id) with exactly the noise canonicalization must strip: scheme/host
case, `www.` prefixes, default ports, `utm_*` tracking params, fragments,
trailing slashes. The DuckDB oracles replay BOTH the synthesis and the
canonicalization regex pipeline, so a wrong regex on either side breaks
the hash match.

Scale notes (100 TB):
- canonicalization is scan-local string work (regexp_extract/replace in
  whole-stage codegen) — no UDF, no shuffle.
- URL dedup shuffles (canonical_url, doc_id, source) triples only; the
  text payload never moves (same contract as q_dedup_exact).
- the domain rollup shuffles one narrow row per doc keyed by domain;
  domains are Zipf-skewed in real crawls — the AQE skew-join/salting
  levers from q_skew_join apply unchanged.
- the blocklist is dim-sized by construction -> broadcast hash join,
  zero shuffle of the fact side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from saas_analytics_pipeline_spark.functions import hash60, hash60_sql
from saas_analytics_pipeline_spark.operators.corpus import (
    BUDGET_SHIFT,
    bucketed_cumsum,
)
from saas_analytics_pipeline_spark.operators.text import (
    LANG_MARKERS,
    _score,
    _score_sql,
)
from saas_analytics_pipeline_spark.qcatalog import query
from saas_analytics_pipeline_spark.sources import load_table, spread_for_fanout

# --------------------------------------------------------------------------
# deterministic URL synthesis (stand-in for a crawl lake's url column)
# --------------------------------------------------------------------------


def synth_urls(docs: DataFrame) -> DataFrame:
    """Attach a deterministic raw URL per doc: canonical identity depends
    only on doc_id % 260 (domain d{id%13}, path p/{id%20}, page={id%4}
    when id is odd), while presentation noise (case, www., :443, trailing
    slash, utm param, fragment) varies on other residues — so raw strings
    differ between copies of the same canonical URL."""
    d = F.col("doc_id")
    scheme = F.when(d % 3 == 0, F.lit("HTTPS")).otherwise(F.lit("https"))
    host = F.concat(
        F.when(d % 4 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("d"),
        (d % 13).cast("string"),
        F.lit(".example.com"),
    )
    host = F.when(d % 7 == 0, F.upper(host)).otherwise(host)
    port = F.when(d % 6 == 0, F.lit(":443")).otherwise(F.lit(""))
    path = F.concat(
        F.lit("/p/"),
        (d % 20).cast("string"),
        F.when(d % 3 == 1, F.lit("/")).otherwise(F.lit("")),
    )
    qs = F.when(
        d % 2 == 1,
        F.concat(F.lit("?utm_source=feed&page="), (d % 4).cast("string")),
    ).otherwise(F.lit(""))
    frag = F.when(d % 5 == 2, F.lit("#sec")).otherwise(F.lit(""))
    return docs.withColumn(
        "url", F.concat(scheme, F.lit("://"), host, port, path, qs, frag)
    )


URL_SQL = """
    CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END
    || '://'
    || CASE WHEN doc_id % 7 = 0 THEN upper(
           CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END
           || 'd' || CAST(doc_id % 13 AS VARCHAR) || '.example.com')
       ELSE
           CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END
           || 'd' || CAST(doc_id % 13 AS VARCHAR) || '.example.com'
       END
    || CASE WHEN doc_id % 6 = 0 THEN ':443' ELSE '' END
    || '/p/' || CAST(doc_id % 20 AS VARCHAR)
    || CASE WHEN doc_id % 3 = 1 THEN '/' ELSE '' END
    || CASE WHEN doc_id % 2 = 1
            THEN '?utm_source=feed&page=' || CAST(doc_id % 4 AS VARCHAR)
            ELSE '' END
    || CASE WHEN doc_id % 5 = 2 THEN '#sec' ELSE '' END
"""


# --------------------------------------------------------------------------
# canonicalization (scan-local, codegen; the SQL twin replays each step)
# --------------------------------------------------------------------------


def canonical_parts(url: F.Column | str) -> tuple[F.Column, F.Column]:
    """(canonical_url, domain) from a raw URL column: strip fragment,
    lowercase scheme+host, drop `www.`, drop default ports, drop `utm_*`
    query params (keeping the rest), strip trailing slashes. Path case is
    preserved — paths are case-sensitive; only scheme/host normalize."""
    u = F.col(url) if isinstance(url, str) else url
    no_frag = F.regexp_replace(u, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(no_frag, r"^([A-Za-z]+)://", 1))
    hostport = F.lower(F.regexp_extract(no_frag, r"^[A-Za-z]+://([^/?]+)", 1))
    host = F.regexp_replace(
        F.regexp_replace(hostport, r"^www\.", ""), r":(443|80)$", ""
    )
    rest = F.regexp_extract(no_frag, r"^[A-Za-z]+://[^/?]*(.*)$", 1)
    path = F.regexp_replace(F.regexp_extract(rest, r"^([^?]*)", 1), r"/+$", "")
    qs = F.regexp_extract(rest, r"\?(.*)$", 1)
    kept = F.array_join(
        F.filter(F.split(qs, "&"), lambda p: ~p.startswith("utm_")), "&"
    )
    canonical = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(F.length(kept) > 0, F.concat(F.lit("?"), kept)).otherwise(
            F.lit("")
        ),
    )
    return canonical, host


# DuckDB twin of canonical_parts over a CTE exposing `url`
CANON_HOST_SQL = r"""
    regexp_replace(regexp_replace(
        lower(regexp_extract(regexp_replace(url, '#.*$', ''),
                             '^[A-Za-z]+://([^/?]+)', 1)),
        '^www\.', ''), ':(443|80)$', '')
"""
CANON_URL_SQL = rf"""
    lower(regexp_extract(regexp_replace(url, '#.*$', ''),
                         '^([A-Za-z]+)://', 1))
    || '://'
    || {CANON_HOST_SQL}
    || regexp_replace(
           regexp_extract(regexp_extract(regexp_replace(url, '#.*$', ''),
               '^[A-Za-z]+://[^/?]*(.*)$', 1), '^([^?]*)', 1),
           '/+$', '')
    || CASE WHEN len(array_to_string(list_filter(
                string_split(regexp_extract(regexp_extract(
                    regexp_replace(url, '#.*$', ''),
                    '^[A-Za-z]+://[^/?]*(.*)$', 1), '\?(.*)$', 1), '&'),
                p -> NOT starts_with(p, 'utm_')), '&')) > 0
            THEN '?' || array_to_string(list_filter(
                string_split(regexp_extract(regexp_extract(
                    regexp_replace(url, '#.*$', ''),
                    '^[A-Za-z]+://[^/?]*(.*)$', 1), '\?(.*)$', 1), '&'),
                p -> NOT starts_with(p, 'utm_')), '&')
            ELSE '' END
"""


@query(
    "q_url_dedup",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id, source, {URL_SQL} AS url FROM documents
    ),
    canon AS (
        SELECT doc_id, source, {CANON_URL_SQL} AS canonical_url FROM raw
    )
    SELECT canonical_url,
           COUNT(*) AS n_copies,
           COUNT(DISTINCT source) AS n_sources,
           MIN(doc_id) AS survivor_id
    FROM canon
    GROUP BY canonical_url
    HAVING COUNT(*) > 1
    ORDER BY canonical_url
    """,
)
def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + exact-URL dedup: normalize raw crawl URLs
    (case, www., default port, utm params, fragments, trailing slash) and
    group identical canonical URLs — the recrawl/mirror dedup every crawl
    corpus runs before content dedup. Survivor = min doc_id (keep-first,
    consistent with q_dedup_exact family).

    Scale: canonicalization is codegen string work in the scan; only
    (canonical_url, doc_id, source) shuffles. The oracle replays both the
    URL synthesis and every canonicalization step in SQL."""
    docs = synth_urls(load_table(spark, sf_dir, "documents"))
    canonical, _ = canonical_parts("url")
    return (
        docs.select("doc_id", "source", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_copies"),
            F.countDistinct("source").alias("n_sources"),
            F.min("doc_id").alias("survivor_id"),
        )
        .where(F.col("n_copies") > 1)
        .orderBy("canonical_url")
    )


@query(
    "q_domain_quality",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id, text, n_chars, {URL_SQL} AS url FROM documents
    ),
    q AS (
        SELECT {CANON_HOST_SQL} AS domain,
               len(string_split(text, ' ')) AS n_tokens,
               n_chars,
               len(list_filter(string_split(text, ' '),
                   t -> t IN ('the', 'a', 'of', 'and'))) AS n_stop
        FROM raw
    )
    SELECT domain,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_stop) AS DOUBLE) / SUM(n_tokens) AS stopword_ratio,
           CAST(SUM(n_chars) AS DOUBLE) / SUM(n_tokens) AS avg_token_len,
           COUNT(*) FILTER (WHERE n_tokens BETWEEN 50 AND 200) AS n_good_length
    FROM q GROUP BY domain ORDER BY domain
    """,
)
def q_domain_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality rollup: the aggregate a crawl curator ranks and
    prunes domains by (content farms show up as whole bad domains, not
    bad documents). Same quality signals as q_quality_score, keyed by the
    canonical domain instead of language.

    Scale: the quality signals and domain extraction are all scan-local;
    one narrow row per doc shuffles, keyed by domain. Real crawl domains
    are Zipf-skewed — AQE skew handling / salting applies as in
    q_skew_join; the rollup itself is partial-aggregable."""
    docs = synth_urls(load_table(spark, sf_dir, "documents"))
    _, domain = canonical_parts("url")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin("the", "a", "of", "and")))
    q = docs.select(
        domain.alias("domain"),
        n_tokens.alias("n_tokens"),
        F.col("n_chars"),
        n_stop.alias("n_stop"),
    )
    return (
        q.groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            (F.sum("n_stop").cast("double") / F.sum("n_tokens")).alias(
                "stopword_ratio"
            ),
            (F.sum("n_chars").cast("double") / F.sum("n_tokens")).alias(
                "avg_token_len"
            ),
            F.count(F.when(F.col("n_tokens").between(50, 200), 1)).alias(
                "n_good_length"
            ),
        )
        .orderBy("domain")
    )


BLOCKED_DOMAINS = [
    "d2.example.com",
    "d5.example.com",
    "d11.example.com",
    "spam.example.net",  # not present in the lake: proves no accidental hit
]


@query(
    "q_domain_blocklist",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id, source, {URL_SQL} AS url FROM documents
    ),
    tagged AS (
        SELECT source,
               CASE WHEN {CANON_HOST_SQL} IN
                    ({", ".join(f"'{d}'" for d in BLOCKED_DOMAINS)})
                    THEN 1 ELSE 0 END AS blocked
        FROM raw
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(blocked) AS BIGINT) AS n_blocked,
           CAST(COUNT(*) - SUM(blocked) AS BIGINT) AS n_kept
    FROM tagged GROUP BY source ORDER BY source
    """,
)
def q_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain blocklist filter: drop documents whose canonical domain is
    on a curated blocklist (spam/SEO domains) — per source, how many
    survive. The blocklist join is the highest-frequency curation filter
    on a crawl corpus.

    Scale: the blocklist is dim-sized (thousands of rows at most) ->
    explicit broadcast hash join; the fact side never shuffles. The
    left-join + null flag (rather than anti-join) keeps both kept and
    blocked counts in one pass."""
    docs = synth_urls(load_table(spark, sf_dir, "documents"))
    _, domain = canonical_parts("url")
    block = F.broadcast(
        docs.sparkSession.createDataFrame(
            [(d,) for d in BLOCKED_DOMAINS], "domain string"
        ).withColumn("blocked", F.lit(1))
    )
    tagged = docs.select("source", domain.alias("domain")).join(
        block, "domain", "left"
    )
    return (
        tagged.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce(F.col("blocked"), F.lit(0)))
            .cast("long")
            .alias("n_blocked"),
            F.sum(F.when(F.col("blocked").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# composed end-to-end curation plan (verdict r5 next-round #4)
# --------------------------------------------------------------------------


# --------------------------------------------------------------------------
# model-based quality filter: a trained linear
# scorer applied at corpus scale without any ML runtime in the engine
# --------------------------------------------------------------------------

# Logistic-regression coefficients in integer MICRO-logits (1e-6), shipped
# like a seed table (the fx_rates pattern: a versioned dim the pipeline
# broadcasts). Trained offline; the engine only needs the dot product.
# Integer units keep Spark and DuckDB bit-identical — the sigmoid is
# monotonic, so the p >= 0.5 gate is exactly logit >= 0 and never needs
# exp() at scoring time (exp differs in the last ulp across libms).
QUALITY_COEF: dict[str, int] = {
    "w_intercept": -1_200_000,
    "w_token": 15_000,  # per whitespace token
    "w_stop": 120_000,  # per stopword hit (prose signal)
    "w_char": 500,  # per character
    "w_digit": -50_000,  # per digit character (boilerplate/serial signal)
}


@query(
    "q_quality_model",
    oracle=f"""
    WITH f AS (
        SELECT source,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_filter(string_split(text, ' '),
                   t -> t IN ('the', 'a', 'of', 'and'))) AS n_stop,
               len(text) AS n_chr,
               len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))
                   AS n_digit
        FROM documents
    ),
    s AS (
        SELECT source,
               {QUALITY_COEF["w_intercept"]}
               + {QUALITY_COEF["w_token"]} * n_tokens
               + {QUALITY_COEF["w_stop"]} * n_stop
               + {QUALITY_COEF["w_char"]} * n_chr
               + {QUALITY_COEF["w_digit"]} * n_digit AS logit
        FROM f
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN logit >= 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pass,
           CAST(SUM(CASE WHEN logit >= 0 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS pass_rate,
           CAST(SUM(logit) AS DOUBLE) / COUNT(*) AS avg_logit_micro
    FROM s GROUP BY source ORDER BY source
    """,
)
def q_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter: a logistic scorer over the engine's
    quality signals (token count, stopword hits, char count, digit count),
    with coefficients shipped as a broadcast seed row and the dot product
    evaluated in whole-stage codegen — "classifier-based filtering"
    (the FineWeb/DCLM-style quality model step) with no ML runtime in the
    engine. Gate = p >= 0.5 == integer micro-logit >= 0 (sigmoid is
    monotonic, so inference never calls exp). Per source: docs, passes,
    pass rate, mean logit.

    Scale: features are scan-local codegen; the coefficient frame is ONE
    row crossJoined under broadcast (same contract as q_decay_score's
    anchor row — allow-listed in tools/scale_lint.py); the rollup shuffles
    |sources| partial rows. Swapping a retrained model = replacing the
    seed row, no plan change."""
    docs = load_table(spark, sf_dir, "documents")
    coef = F.broadcast(
        spark.createDataFrame(
            [tuple(QUALITY_COEF.values())],
            "w_intercept long, w_token long, w_stop long, "
            "w_char long, w_digit long",
        )
    )
    toks = F.split("text", " ")
    feats = docs.select(
        "source",
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(toks, lambda t: t.isin("the", "a", "of", "and"))).alias(
            "n_stop"
        ),
        F.length("text").alias("n_chr"),
        (
            F.length("text") - F.length(F.regexp_replace("text", "[0-9]", ""))
        ).alias("n_digit"),
    )
    logit = (
        F.col("w_intercept")
        + F.col("w_token") * F.col("n_tokens")
        + F.col("w_stop") * F.col("n_stop")
        + F.col("w_char") * F.col("n_chr")
        + F.col("w_digit") * F.col("n_digit")
    )
    scored = feats.crossJoin(coef).select("source", logit.alias("logit"))
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("logit") >= 0, 1).otherwise(0))
            .cast("long")
            .alias("n_pass"),
            (
                F.sum(F.when(F.col("logit") >= 0, 1).otherwise(0)).cast("double")
                / F.count("*")
            ).alias("pass_rate"),
            (F.sum("logit").cast("double") / F.count("*")).alias(
                "avg_logit_micro"
            ),
        )
        .orderBy("source")
    )


def _lang_ok_sql() -> str:
    cases = " ".join(
        f"WHEN '{lg}' THEN {_score_sql(lg)}" for lg in sorted(LANG_MARKERS)
    )
    return f"(CASE lang {cases} ELSE 0 END) >= 1"


def _lang_ok_col() -> F.Column:
    expr: F.Column = F.lit(0)
    for lg in sorted(LANG_MARKERS):
        expr = F.when(F.col("lang") == lg, _score(lg)).otherwise(expr)
    return expr >= 1


@query(
    "q_curation_pipeline",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, source,
               len(string_split(text, ' ')) AS n_tokens,
               md5(text) AS h,
               {hash60_sql("'cp:' || CAST(doc_id AS VARCHAR)")} AS tb_h,
               ({_lang_ok_sql()}) AS lang_ok,
               (len(string_split(text, ' ')) BETWEEN 30 AND 400
                AND n_chars BETWEEN 3 * len(string_split(text, ' '))
                                AND 12 * len(string_split(text, ' ')))
                   AS quality_ok
        FROM documents
    ),
    gated AS (
        SELECT * FROM base WHERE lang_ok AND quality_ok
    ),
    surv AS (
        SELECT doc_id, n_tokens, tb_h,
               ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        FROM gated
    ),
    uniq AS (SELECT doc_id, n_tokens, tb_h FROM surv WHERE rn = 1),
    budget AS (
        SELECT doc_id, n_tokens,
               SUM(n_tokens) OVER (
                   ORDER BY tb_h, doc_id ROWS UNBOUNDED PRECEDING
               ) AS cum_tokens,
               SUM(n_tokens) OVER () AS total
        FROM uniq
    )
    SELECT b.source,
           COUNT(*) AS n_in,
           CAST(SUM(CASE WHEN b.lang_ok THEN 1 ELSE 0 END) AS BIGINT)
               AS n_lang,
           CAST(SUM(CASE WHEN b.lang_ok AND b.quality_ok THEN 1 ELSE 0 END)
               AS BIGINT) AS n_gated,
           CAST(COUNT(u.doc_id) AS BIGINT) AS n_unique,
           CAST(COUNT(CASE WHEN bu.cum_tokens * 4 <= bu.total
                           THEN 1 END) AS BIGINT) AS n_budget,
           CAST(COALESCE(SUM(CASE WHEN bu.cum_tokens * 4 <= bu.total
                                  THEN bu.n_tokens END), 0) AS BIGINT)
               AS budget_tokens
    FROM base b
    LEFT JOIN uniq u ON u.doc_id = b.doc_id
    LEFT JOIN budget bu ON bu.doc_id = b.doc_id
    GROUP BY b.source ORDER BY b.source
    """,
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed end-to-end curation plan as ONE query: language gate
    (labeled lang's marker score >= 1) -> quality gate (token length band
    + chars-per-token band, integer-exact) -> exact-dedup survivors
    (keep-first per content hash) -> token budget (keep docs in
    deterministic hash order until 25% of surviving tokens) -> per-source
    funnel counts. Every stage exists as its own key (q_lang_id,
    q_quality_score, q_dedup_exact, q_token_budget); this key proves the
    COMPOSITION stays one plan with the right shape.

    Scale: both gates and the content/budget hashes are computed in the
    scan project — the text column dies scan-side, and the gates fuse
    into the same WholeStageCodegen (guarded in tests/test_plans.py). The
    dedup window and budget cumsum shuffle only narrow (doc_id, hash,
    n_tokens) rows; the budget uses the bucketed range-partition cumsum
    (no global sort). The funnel itself is TWO per-source aggregates
    (pre-gate counts from the scan, post-dedup/budget counts carried
    through the cumsum) joined at |sources| grain — no doc_id-keyed
    funnel join ever materializes."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    tb_h = hash60(F.concat(F.lit("cp:"), F.col("doc_id").cast("string")))
    base = docs.select(
        "doc_id",
        "source",
        n_tokens.alias("n_tokens"),
        # r13: the content hash only GROUPS identical texts (keep-first is
        # min doc_id per group; only counts reach the output), so xxhash64
        # replaces md5 — the dedup window's shuffle/sort key drops from a
        # 32-char hex string to 8 bytes (guide §2.3; oracle-verified 3 SFs)
        F.xxhash64("text").alias("h"),
        tb_h.alias("tb_h"),
        _lang_ok_col().alias("lang_ok"),
        (
            n_tokens.between(30, 400)
            & F.col("n_chars").between(3 * n_tokens, 12 * n_tokens)
        ).alias("quality_ok"),
    )
    pre = base.groupBy("source").agg(
        F.count("*").alias("n_in"),
        F.sum(F.when(F.col("lang_ok"), 1).otherwise(0))
        .cast("long")
        .alias("n_lang"),
        F.sum(F.when(F.col("lang_ok") & F.col("quality_ok"), 1).otherwise(0))
        .cast("long")
        .alias("n_gated"),
    )
    gated = base.where(F.col("lang_ok") & F.col("quality_ok"))
    # r14 (guide §2.3/§2.4): keep-first per content hash is min-doc_id
    # per h — a min_by aggregate instead of the r13 row_number window.
    # The aggregate partially combines map-side (duplicate contents
    # collapse before the h Exchange) and needs no sort; the window
    # sorted every gated row by (h, doc_id) just to keep rank 1.
    uniq = (
        gated.groupBy("h")
        .agg(
            F.min_by(
                F.struct("doc_id", "source", "n_tokens", "tb_h"), "doc_id"
            ).alias("_s")
        )
        .select(
            F.col("_s.doc_id").alias("doc_id"),
            F.col("_s.source").alias("source"),
            F.col("_s.n_tokens").alias("n_tokens"),
            F.col("_s.tb_h").alias("h"),
            F.shiftright("_s.tb_h", BUDGET_SHIFT).alias("bucket"),
        )
    )
    in_budget = F.col("cum_tokens") * 4 <= F.col("total")
    post = (
        bucketed_cumsum(uniq, "n_tokens")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_unique"),
            F.count(F.when(in_budget, 1)).cast("long").alias("n_budget"),
            F.coalesce(F.sum(F.when(in_budget, F.col("n_tokens"))), F.lit(0))
            .cast("long")
            .alias("budget_tokens"),
        )
    )
    return (
        pre.join(post, "source", "left")
        .select(
            "source",
            "n_in",
            "n_lang",
            "n_gated",
            F.coalesce("n_unique", F.lit(0)).cast("long").alias("n_unique"),
            F.coalesce("n_budget", F.lit(0)).cast("long").alias("n_budget"),
            F.coalesce("budget_tokens", F.lit(0))
            .cast("long")
            .alias("budget_tokens"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# probability-proportional (quality-weighted) sampling
# --------------------------------------------------------------------------

# weight_micro = least(n_chars, WS_CAP) * WS_SCALE in [0, 1e6]: longer
# docs (a stand-in for any quality score) keep proportionally more mass;
# a doc is accepted iff its hash-uniform draw u < weight_micro. All
# integer math — no float probability ever compares across engines.
WS_CAP = 2000
WS_SCALE = 500  # WS_CAP * WS_SCALE == WS_MOD: weight 1.0 at the cap
WS_MOD = 1_000_000


@query(
    "q_weighted_sample",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, source,
               least(n_chars, {WS_CAP}) * {WS_SCALE} AS weight_micro,
               {hash60_sql("'ws:' || CAST(doc_id AS VARCHAR)")} % {WS_MOD}
                   AS u
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(weight_micro) AS BIGINT) AS expected_micro,
           COUNT(*) FILTER (WHERE u < weight_micro) AS n_sampled
    FROM w GROUP BY source ORDER BY source
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic probability-proportional sampling — the "soft
    quality filter" shape modern curation pipelines use instead of a
    hard gate: each doc survives with probability proportional to its
    weight (here length-capped n_chars standing in for any quality
    score). The accept rule is u < weight with u a content-independent
    hash draw (hash60 of a salted doc_id, mod 1e6) — reproducible
    across runs, partitionings, and engines, unlike rand(). Per source
    the result reports population, total expected mass (the calibration
    target: n_sampled ~= expected_micro / 1e6), and the realized sample
    count; the oracle replays weights, draws, and the accept rule
    exactly, all in integer math.

    Scale: scan-local weight + draw in codegen, one partial-aggregable
    groupBy on the enum-sized source key; the sampling decision needs no
    global state, so it composes with any upstream gate (same contract
    as q_hash_sample's rate-based form — this one is weight-
    proportional)."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        "source",
        (F.least(F.col("n_chars"), F.lit(WS_CAP)) * WS_SCALE).alias(
            "weight_micro"
        ),
        (
            hash60(F.concat(F.lit("ws:"), F.col("doc_id").cast("string")))
            % WS_MOD
        ).alias("u"),
    )
    return (
        w.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("weight_micro").cast("long").alias("expected_micro"),
            F.count(F.when(F.col("u") < F.col("weight_micro"), 1)).alias(
                "n_sampled"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# HTML/boilerplate extraction: the step BEFORE lang-id in a real crawl funnel
# --------------------------------------------------------------------------


def synth_html(docs: DataFrame) -> DataFrame:
    """Wrap each doc's text in deterministic HTML markup (closed-form from
    doc_id, the synth_urls pattern): head with title (+ style/script blocks
    on some residues), nav + h1 + the text as the paragraph body (+ inline
    <b> and entity noise on other residues), and a footer div. Exactly the
    noise extraction must strip: script/style payloads, nav/footer
    boilerplate, inline tags, entities, extra whitespace."""
    d = F.col("doc_id")
    style = F.when(
        d % 3 == 0, F.lit("<style>body{margin:0;color:#222}</style>")
    ).otherwise(F.lit(""))
    script = F.when(
        d % 2 == 1,
        F.concat(
            F.lit('<script type="text/javascript">var page='),
            (d % 7).cast("string"),
            F.lit(";track(page);</script>"),
        ),
    ).otherwise(F.lit(""))
    head = F.concat(
        F.lit("<html><head><title>Doc "),
        d.cast("string"),
        F.lit("</title>"),
        style,
        script,
        F.lit("</head>"),
    )
    nav = F.concat(
        F.lit('<nav>home | about | <a href="/d'),
        (d % 13).cast("string"),
        F.lit('">section</a></nav>'),
    )
    body_text = F.when(
        d % 4 == 0,
        F.regexp_replace("text", r"^(\w+)", "<b>$1</b>"),
    ).otherwise(F.col("text"))
    body_text = F.when(
        d % 7 == 2,
        F.concat(body_text, F.lit(" &amp; more &lt;soon&gt;")),
    ).otherwise(body_text)
    footer = F.when(
        d % 5 < 2,
        F.concat(
            F.lit('<div class="footer">(c) example '),
            (d % 5).cast("string"),
            F.lit(" | terms | privacy</div>"),
        ),
    ).otherwise(F.lit(""))
    html = F.concat(
        head,
        F.lit("<body>"),
        nav,
        F.lit("<h1>Doc "),
        d.cast("string"),
        F.lit("</h1> <p>"),
        body_text,
        F.lit("</p>"),
        footer,
        F.lit("</body></html>"),
    )
    return docs.withColumn("html", html)


HTML_SQL = """
    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title>'
    || CASE WHEN doc_id % 3 = 0
            THEN '<style>body{margin:0;color:#222}</style>' ELSE '' END
    || CASE WHEN doc_id % 2 = 1
            THEN '<script type="text/javascript">var page='
                 || CAST(doc_id % 7 AS VARCHAR) || ';track(page);</script>'
            ELSE '' END
    || '</head><body>'
    || '<nav>home | about | <a href="/d' || CAST(doc_id % 13 AS VARCHAR)
    || '">section</a></nav>'
    || '<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1> <p>'
    || CASE WHEN doc_id % 4 = 0
            THEN regexp_replace(text, '^(\\w+)', '<b>\\1</b>')
            ELSE text END
    || CASE WHEN doc_id % 7 = 2 THEN ' &amp; more &lt;soon&gt;' ELSE '' END
    || '</p>'
    || CASE WHEN doc_id % 5 < 2
            THEN '<div class="footer">(c) example '
                 || CAST(doc_id % 5 AS VARCHAR) || ' | terms | privacy</div>'
            ELSE '' END
    || '</body></html>'
"""


def extract_text(html: F.Column | str) -> F.Column:
    """Boilerplate-stripping text extraction, fully scan-local codegen:
    drop head/script/style payloads and nav/footer boilerplate BLOCKS
    (tag + content), strip remaining tags (content kept), decode the
    basic entities, collapse whitespace. The fixed strip order is the
    contract both engines replay."""
    s = F.col(html) if isinstance(html, str) else html
    s = F.regexp_replace(s, r"<head>.*?</head>", " ")
    s = F.regexp_replace(s, r"<script[^>]*>.*?</script>", " ")
    s = F.regexp_replace(s, r"<style[^>]*>.*?</style>", " ")
    s = F.regexp_replace(s, r"<nav>.*?</nav>", " ")
    s = F.regexp_replace(s, r'<div class="footer">.*?</div>', " ")
    s = F.regexp_replace(s, r"<[^>]+>", " ")
    s = F.replace(s, F.lit("&lt;"), F.lit("<"))
    s = F.replace(s, F.lit("&gt;"), F.lit(">"))
    s = F.replace(s, F.lit("&amp;"), F.lit("&"))
    return F.trim(F.regexp_replace(s, r"\s+", " "))


def _extract_sql(col: str) -> str:
    """DuckDB twin of extract_text (same strip order)."""
    s = col
    for pat in (
        "<head>.*?</head>",
        "<script[^>]*>.*?</script>",
        "<style[^>]*>.*?</style>",
        "<nav>.*?</nav>",
        '<div class="footer">.*?</div>',
        "<[^>]+>",
    ):
        s = f"regexp_replace({s}, '{pat}', ' ', 'g')"
    s = f"replace(replace(replace({s}, '&lt;', '<'), '&gt;', '>'), '&amp;', '&')"
    return f"trim(regexp_replace({s}, '\\s+', ' ', 'g'))"


@query(
    "q_html_extract",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id, source, {HTML_SQL} AS html, text FROM documents
    ),
    ext AS (
        SELECT doc_id, source, html, {_extract_sql('html')} AS extracted,
               text
        FROM raw
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(html)) AS BIGINT) AS raw_chars,
           CAST(SUM(len(extracted)) AS BIGINT) AS extracted_chars,
           round(SUM(len(extracted)) * 100.0 / SUM(len(html)), 2)
               AS pct_kept,
           CAST(SUM(CASE WHEN position(text IN extracted) > 0
                         OR position(replace(text, '&', '&')
                                     IN extracted) > 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_body_preserved
    FROM ext GROUP BY source ORDER BY source
    """,
)
def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML/boilerplate text extraction — the step BEFORE lang-id in every
    real crawl funnel (q_curation_pipeline starts at lang-id; this is the
    funnel's step zero). Each doc's text is wrapped in deterministic
    markup (synth_html: head/title, style+script payloads, nav + footer
    boilerplate, inline tags, entities), then extracted back scan-side:
    block-strip script/style/nav/footer, tag-strip the rest, entity
    decode, whitespace collapse. Per-source stats: raw vs extracted
    length, percent kept, and how many docs kept their body text intact
    (n_body_preserved counts extracted containing the original text —
    docs with injected inline markup round-trip modulo the <b> split,
    which is exactly what the containment check certifies).

    Scale: synthesis and extraction are regexp_replace/replace chains in
    whole-stage codegen — zero UDFs; html and extracted text die in the
    scan stage and only |sources|-grain partial aggregates key-shuffle
    (plan-guarded in test_plans.py). The one Exchange that may carry the
    raw text is the conditional volume-neutral spread in front of
    synthesis (sources.spread_for_fanout — a no-op on multi-file lakes),
    which lets the regex chain run on every core when the documents
    arrive as a single unsplittable row group.
    At 100 TB this is the trafilatura/jusText position in the pipeline
    with the plumbing (schema, scan-locality, aggregate grain) real.

    Reference scope: no crawl surface in the reference (documents are
    synthetic, data_gen/generate_and_load_script.py) — north-star
    extension (BASELINE.json)."""
    docs = spread_for_fanout(load_table(spark, sf_dir, "documents"))
    raw = synth_html(docs)
    ext = raw.select(
        "doc_id",
        "source",
        "html",
        "text",
        extract_text("html").alias("extracted"),
    )
    preserved = F.when(
        F.position(F.col("text"), F.col("extracted")) > 0, 1
    ).otherwise(0)
    return (
        ext.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("html")).cast("long").alias("raw_chars"),
            F.sum(F.length("extracted")).cast("long").alias(
                "extracted_chars"
            ),
            F.round(
                F.sum(F.length("extracted"))
                * 100.0
                / F.sum(F.length("html")),
                2,
            ).alias("pct_kept"),
            F.sum(preserved).cast("long").alias("n_body_preserved"),
        )
        .orderBy("source")
    )


@query(
    "q_domain_median",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id, {URL_SQL} AS url, n_chars FROM documents
    ),
    d AS (SELECT {CANON_HOST_SQL} AS domain, n_chars FROM raw)
    SELECT domain,
           COUNT(*) AS n_docs,
           CAST(median(n_chars) AS DOUBLE) AS median_chars
    FROM d GROUP BY domain ORDER BY domain
    """,
)
def q_domain_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe EXACT median per domain — the aggregation-path answer to
    Zipf-skewed crawl domains (q_domain_quality names the skew; this key
    exercises the mitigation). A sort-based holistic median puts every
    row of the hot domain on ONE reducer (AQE skew splitting applies to
    joins only, never aggregates). The two-stage rewrite: collapse rows
    to a (domain, value) histogram map-side — partial-aggregable, so the
    hot domain's reduce-side row count drops from |rows| to |distinct
    values| — then take the exact weighted median from cumulative counts
    over the bounded histogram. Result is IDENTICAL to a plain median
    (the oracle is DuckDB's median()).

    Measured honestly (tools/skew_probe.py aggregation section): Spark's
    own percentile() is itself a mergeable counts-map partial aggregate,
    so on Spark this formulation matches-but-does-not-beat the built-in
    on a 50%-hot key — it is the portable shape for engines whose exact
    percentile IS sort-based, and the only one whose window input is
    bounded by |distinct values|. The probe's genuinely skew-bound shape
    is the full-output window (plain vs bucketed cumsum: 2.7x at
    50%-hot, identity asserted); that mitigation — bucketed_cumsum — is
    the budget shape q_curation_pipeline already ships.

    The interpolation contract: even counts average the two middle
    values, odd counts take the middle — percentile_cont(0.5) semantics,
    exact in doubles for integer values."""
    docs = synth_urls(load_table(spark, sf_dir, "documents"))
    _, domain = canonical_parts("url")
    base = docs.select(domain.alias("domain"), "n_chars")
    # stage 1: partial-aggregable histogram collapse (the skew fix)
    hist = base.groupBy("domain", "n_chars").agg(F.count("*").alias("c"))
    w = (
        Window.partitionBy("domain")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("hi", F.sum("c").over(w))
    tot = hist.groupBy("domain").agg(F.sum("c").alias("n"))
    j = cum.join(F.broadcast(tot), "domain")
    pos_lo = F.expr("(n + 1) div 2")
    pos_hi = F.expr("(n + 2) div 2")
    # stage 2: exact weighted median from the bounded histogram
    return (
        j.groupBy("domain")
        .agg(
            F.max("n").cast("long").alias("n_docs"),
            F.min(F.when(F.col("hi") >= pos_lo, F.col("n_chars"))).alias(
                "_v_lo"
            ),
            F.min(F.when(F.col("hi") >= pos_hi, F.col("n_chars"))).alias(
                "_v_hi"
            ),
        )
        .select(
            "domain",
            "n_docs",
            ((F.col("_v_lo") + F.col("_v_hi")) / 2.0).alias("median_chars"),
        )
        .orderBy("domain")
    )


# --------------------------------------------------------------------------
# code-vs-prose detection: the curation signal that routes documents to
# the right pipeline (code corpora and prose corpora have different
# quality gates, dedup grains, and mixing weights)
# --------------------------------------------------------------------------

# deterministic code synthesis (the HTML_SQL pattern): every 5th doc is
# rewritten as a code-looking snippet; the oracle replays the rewrite,
# the detector never looks at doc_id
CODE_SQL = """
    CASE WHEN doc_id % 5 = 0 THEN
        'def fn_' || CAST(doc_id AS VARCHAR) || '(x):' || chr(10)
        || '    data = [' || replace(text, ' ', ', ') || '];' || chr(10)
        || '    return data'
    ELSE text END
"""

# code-symbol char class + keyword alternation, one regex text per
# engine-escaping convention (Java needs \\ in the SQL literal; DuckDB
# single-quote literals pass backslashes through)
_SYM_JAVA = r"[(){}\\[\\];=,:]"
_SYM_DUCK = r"[(){}\[\];=,:]"
_KW = "(def|return|class|import|function|const|lambda)"


def synth_code(docs: DataFrame) -> DataFrame:
    """Attach the deterministic content column: every doc_id % 5 == 0
    doc becomes a code-looking snippet built from its own text; the rest
    stay prose. Closed-form from (doc_id, text), so the DuckDB oracle
    replays it (CODE_SQL)."""
    code = F.concat(
        F.lit("def fn_"),
        F.col("doc_id").cast("string"),
        F.lit("(x):\n    data = ["),
        F.replace(F.col("text"), F.lit(" "), F.lit(", ")),
        F.lit("];\n    return data"),
    )
    return docs.withColumn(
        "content",
        F.when(F.col("doc_id") % 5 == 0, code).otherwise(F.col("text")),
    )


@query(
    "q_code_detect",
    oracle=rf"""
    WITH raw AS (
        SELECT doc_id, source, {CODE_SQL} AS content FROM documents
    ),
    sig AS (
        SELECT doc_id, source,
               len(content) AS n_chars,
               len(regexp_extract_all(content, '{_SYM_DUCK}')) AS n_sym,
               len(regexp_extract_all(content, '\b{_KW}\b')) AS n_kw
        FROM raw
    ),
    scored AS (
        SELECT source,
               CAST(round(n_sym * 1.0 / n_chars, 6)
                    AS DECIMAL(18,6)) AS sym_density,
               CASE WHEN n_kw >= 2 AND n_sym >= 4 THEN 1
                    WHEN round(n_sym * 1.0 / n_chars, 6) > 0.08 THEN 1
                    ELSE 0 END AS is_code,
               CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS is_synth
        FROM sig
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(is_code) AS BIGINT) AS n_code,
           round(SUM(is_code) * 100.0 / COUNT(*), 2) AS code_pct,
           round(CAST(SUM(sym_density) AS DOUBLE) / COUNT(*), 6)
               AS avg_sym_density,
           CAST(SUM(CASE WHEN is_code = is_synth THEN 1 ELSE 0 END)
                AS BIGINT) AS n_label_match
    FROM scored GROUP BY source ORDER BY source
    """,
)
def q_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection over synthesized mixed content: every 5th
    document is rewritten as a code snippet (synth_code — deterministic,
    oracle-replayable), then a scan-local detector that never sees
    doc_id scores each doc on code-symbol density and keyword hits
    (def/return/class/... word-bounded) and flags is_code when keywords
    AND symbols co-occur or symbol density clears 8%. Per-source
    rollup: doc/code counts, code share, exact-decimal mean symbol
    density, and the label-agreement count vs the synthesis ground
    truth (the detector-evaluation column a curation pipeline tracks —
    here 100% by construction, the hash pins the detector's behavior,
    not a lucky threshold).

    Scale: every signal is a codegen regex/length expression in the
    scan; only (source, 3 ints, 1 decimal) reach the |sources|-group
    partial-aggregable rollup — text dies in the scan, the
    q_curation_pipeline discipline. Routing-by-modality is the step
    between q_html_extract (markup strip) and q_lang_id in a real crawl
    funnel: code goes to a code pipeline (different dedup grain —
    q_chunk_dedup at function grain — and different quality gates),
    prose continues to language ID.

    Reference scope: extension surface (BASELINE.json north star)."""
    docs = load_table(spark, sf_dir, "documents")
    raw = synth_code(docs)
    sig = raw.select(
        "doc_id",
        "source",
        F.length("content").alias("n_chars"),
        F.expr(
            f"size(regexp_extract_all(content, '{_SYM_JAVA}', 0))"
        ).alias("n_sym"),
        F.expr(
            f"size(regexp_extract_all(content, '\\\\b{_KW}\\\\b', 0))"
        ).alias("n_kw"),
    )
    dens = F.round(F.col("n_sym") * 1.0 / F.col("n_chars"), 6)
    scored = sig.select(
        "source",
        dens.cast("decimal(18,6)").alias("sym_density"),
        F.when((F.col("n_kw") >= 2) & (F.col("n_sym") >= 4), 1)
        .when(dens > 0.08, 1)
        .otherwise(0)
        .alias("is_code"),
        F.when(F.col("doc_id") % 5 == 0, 1).otherwise(0).alias("is_synth"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("is_code").cast("long").alias("n_code"),
            F.round(F.sum("is_code") * 100.0 / F.count("*"), 2).alias(
                "code_pct"
            ),
            F.round(
                F.sum("sym_density").cast("double") / F.count("*"), 6
            ).alias("avg_sym_density"),
            F.sum(
                F.when(F.col("is_code") == F.col("is_synth"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_label_match"),
        )
        .orderBy("source")
    )
