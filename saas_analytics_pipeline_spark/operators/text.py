"""Text analysis: stats, language-ID, quality scoring, token counts,
document fingerprinting.

North-star extensions (BASELINE.json) over the `documents` table. Everything
is built from JVM-side string/array functions (split, transform, aggregate,
md5) — no Python UDFs — so each op both scales (whole-stage codegen) and has
an exact DuckDB oracle.

Scale notes: all ops are scan-local (narrow) followed by one small
aggregation; at 100 TB they run at parquet-scan speed. The fingerprint
(sorted-unique-token md5) doubles as a dedup key: canonicalization +
hash-groupBy, the standard fuzzy-exact dedup used on web corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from saas_analytics_pipeline_spark.functions import window_hashes
from saas_analytics_pipeline_spark.qcatalog import query
from saas_analytics_pipeline_spark.sources import load_table

# Deterministic marker-token sets for the language-ID heuristic. On real
# corpora these are per-language stopword/character-n-gram profiles; the
# synthetic docs share one vocabulary, so markers are fixed tokens — the
# heuristic's *mechanics* (score per language, argmax with stable tiebreak)
# are what the oracle checks.
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "und", "nicht"],
    "en": ["the", "fast", "query"],
    "es": ["el", "la", "data"],
    "fr": ["le", "et", "join"],
    "zh": ["hash", "vector", "stream"],
}

STOPWORDS = ["the", "a", "of", "and"]


def _score(lang: str) -> F.Column:
    toks = F.split("text", " ")
    return F.size(
        F.filter(toks, lambda t: t.isin(LANG_MARKERS[lang]))
    )


def _score_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return (
        f"len(list_filter(string_split(text, ' '), t -> t IN ({markers})))"
    )


@query(
    "q_text_stats",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           COUNT(DISTINCT source) AS n_sources
    FROM documents GROUP BY lang
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus stats per language: doc/token/char counts (ref shape:
    length histograms + lang distribution)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(n_tokens).cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


@query(
    "q_lang_id",
    oracle=f"""
    WITH scored AS (
        SELECT lang AS true_lang,
               {_score_sql('de')} AS s_de,
               {_score_sql('en')} AS s_en,
               {_score_sql('es')} AS s_es,
               {_score_sql('fr')} AS s_fr,
               {_score_sql('zh')} AS s_zh
        FROM documents
    ),
    predicted AS (
        SELECT true_lang,
               CASE
                   WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr
                        AND s_de >= s_zh THEN 'de'
                   WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                   WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                   WHEN s_fr >= s_zh THEN 'fr'
                   ELSE 'zh'
               END AS pred_lang
        FROM scored
    )
    SELECT true_lang, pred_lang, COUNT(*) AS n
    FROM predicted GROUP BY true_lang, pred_lang
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID heuristic -> confusion matrix vs the labeled
    lang. Argmax with alphabetical tiebreak (first language wins ties)."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        F.col("lang").alias("true_lang"),
        *[_score(lg).alias(f"s_{lg}") for lg in sorted(LANG_MARKERS)],
    )
    langs = sorted(LANG_MARKERS)  # de, en, es, fr, zh
    pred = F.when(
        (F.col("s_de") >= F.col("s_en"))
        & (F.col("s_de") >= F.col("s_es"))
        & (F.col("s_de") >= F.col("s_fr"))
        & (F.col("s_de") >= F.col("s_zh")),
        "de",
    ).when(
        (F.col("s_en") >= F.col("s_es"))
        & (F.col("s_en") >= F.col("s_fr"))
        & (F.col("s_en") >= F.col("s_zh")),
        "en",
    ).when(
        (F.col("s_es") >= F.col("s_fr")) & (F.col("s_es") >= F.col("s_zh")), "es"
    ).when(F.col("s_fr") >= F.col("s_zh"), "fr").otherwise("zh")
    assert langs == ["de", "en", "es", "fr", "zh"]
    return (
        scored.withColumn("pred_lang", pred)
        .groupBy("true_lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )


@query(
    "q_quality_score",
    oracle=f"""
    WITH q AS (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS n_tokens,
               n_chars,
               len(list_filter(string_split(text, ' '),
                   t -> t IN ('the', 'a', 'of', 'and'))) AS n_stop
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_stop) AS DOUBLE) / SUM(n_tokens) AS stopword_ratio,
           CAST(SUM(n_chars) AS DOUBLE) / SUM(n_tokens) AS avg_token_len,
           COUNT(*) FILTER (WHERE n_tokens BETWEEN 50 AND 200) AS n_good_length
    FROM q GROUP BY lang
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring signals: length band, stopword ratio, mean token
    length — the standard pre-training quality filters, aggregated per lang."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    q = docs.select("doc_id", "lang", n_tokens.alias("n_tokens"),
                    F.col("n_chars"), n_stop.alias("n_stop"))
    return q.groupBy("lang").agg(
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


@query(
    "q_token_count",
    oracle="""
    SELECT len(string_split(text, ' ')) AS n_tokens, COUNT(*) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count histogram (whitespace tokenizer; the BPE-ish regex
    tokenizer lives in tokenize_regex below)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(
        F.size(F.split("text", " ")).alias("n_tokens")
    ).agg(F.count("*").alias("n_docs"))


def tokenize_regex(col: str = "text") -> F.Column:
    """BPE-ish regex tokenizer: words, numbers, punctuation runs as separate
    tokens (GPT-2-style pre-tokenization shape, public pattern)."""
    return F.expr(
        rf"regexp_extract_all({col}, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+', 0)"
    )


@query(
    "q_fingerprint",
    oracle="""
    WITH fp AS (
        SELECT source,
               md5(array_to_string(list_sort(list_distinct(
                   string_split(text, ' '))), ' ')) AS fingerprint
        FROM documents
    )
    SELECT source, COUNT(*) AS n_docs,
           COUNT(DISTINCT fingerprint) AS n_unique_fingerprints
    FROM fp GROUP BY source
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 over the sorted unique token set —
    order-insensitive canonical hash (bag-of-words dedup key)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(F.split("text", " "))))
    )
    return (
        docs.select("source", fp.alias("fingerprint"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fingerprint").alias("n_unique_fingerprints"),
        )
    )


@query(
    "q_corpus_filter",
    oracle="""
    WITH flagged AS (
        SELECT doc_id, source,
               len(string_split(text, ' ')) AS n_tokens,
               ROW_NUMBER() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id) AS dup_rank
        FROM documents
    ),
    decided AS (
        SELECT source,
               dup_rank = 1 AS pass_dedup,
               n_tokens BETWEEN 30 AND 300 AS pass_length
        FROM flagged
    )
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(CASE WHEN pass_dedup THEN 1 END) AS after_dedup,
           COUNT(CASE WHEN pass_dedup AND pass_length THEN 1 END) AS kept
    FROM decided GROUP BY source
    """,
)
def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus filter: the composed keep/drop decision a
    training-data pipeline applies per document — canonical-copy exact
    dedup (keep min doc_id per content hash) then length-band gate —
    reported as a per-source survival funnel. One window on the content
    hash + scan-local flags; near-dup and language gates chain the same
    way (their operators are oracle-checked separately; composition here
    stays SQL-replayable)."""
    docs = load_table(spark, sf_dir, "documents")
    # r13: xxhash64 over md5 — the content hash only groups the
    # keep-first dedup (only counts reach the output), so the grouping
    # key is 8 bytes instead of a 32-char hex string (§2.3).
    # r14 (guide §2.4): keep-first per content hash is min-doc_id per
    # hash — a min_by aggregate (map-side combinable, duplicate contents
    # collapse before the Exchange, no sort) instead of the r13
    # row_number window that sorted every doc by (hash, doc_id). The
    # canonical copies then roll up per source; total doc counts come
    # from a second scan-side partial aggregate (tiny shuffle), and the
    # two |sources|-grain frames meet in a broadcast-sized join.
    # r14 (VERDICT r13 #4): the content key widens to (xxhash64, length)
    # — a 64-bit collision here silently DROPS a distinct document from
    # the funnel at the 100 TB design point (E[collisions] ~ n^2/2^65);
    # the 12-byte composite key keeps the narrow-shuffle win while
    # pushing the birthday risk out of range (same-hash AND same-length).
    canon = (
        docs.groupBy(
            F.xxhash64("text").alias("_h"), F.length("text").alias("_l")
        )
        .agg(
            F.min_by(
                F.struct(
                    F.col("source").alias("source"),
                    F.size(F.split("text", " "))
                    .between(30, 300)
                    .alias("pass_length"),
                ),
                F.col("doc_id"),
            ).alias("_s")
        )
        .groupBy(F.col("_s.source").alias("source"))
        .agg(
            F.count("*").alias("after_dedup"),
            F.count(F.when(F.col("_s.pass_length"), 1)).alias("kept"),
        )
    )
    totals = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    return totals.join(canon, "source", "left").select(
        "source",
        "n_docs",
        F.coalesce("after_dedup", F.lit(0)).alias("after_dedup"),
        F.coalesce("kept", F.lit(0)).alias("kept"),
    )


@query(
    "q_fuzzy_match",
    oracle="""
    WITH names AS (
        SELECT c_custkey, upper(trim(c_name)) AS nm
        FROM customer WHERE c_custkey % 500 = 0
    )
    SELECT a.c_custkey AS a, b.c_custkey AS b,
           levenshtein(a.nm, b.nm) AS dist
    FROM names a JOIN names b ON a.c_custkey < b.c_custkey
    WHERE levenshtein(a.nm, b.nm) <= 3
    """,
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching: normalized-name pairs within edit distance 3
    (dirty-CRM dedup; ref: free-text billing fields,
    generate_and_load_script.py:74). Subset %500 bounds the pair space —
    at scale the all-pairs join is replaced by blocking (first-k chars /
    phonetic key) exactly like the LSH pattern in dedup.py."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") % 500 == 0)
    names = c.select(
        "c_custkey", F.upper(F.trim("c_name")).alias("nm")
    )
    a = names.select(F.col("c_custkey").alias("a"), F.col("nm").alias("nm_a"))
    b = names.select(F.col("c_custkey").alias("b"), F.col("nm").alias("nm_b"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select("a", "b", F.levenshtein("nm_a", "nm_b").alias("dist"))
        .where(F.col("dist") <= 3)
    )


@query(
    "q_event_bigrams",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    )
    SELECT event_type, next_type, COUNT(*) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def q_event_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-transition bigrams (the Markov-ish navigation matrix): lead
    over each user's ordered stream, then count (from, to) pairs — one
    window shuffle + one small agg."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    return seq.groupBy("event_type", "next_type").agg(F.count("*").alias("n"))


@query(
    "q_tf_idf",
    oracle="""
    WITH tokens AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents WHERE doc_id % 25 = 0
    ),
    tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf FROM tokens GROUP BY doc_id, tok
    ),
    df AS (
        SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tokens GROUP BY tok
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tokens),
    scored AS (
        SELECT tf.doc_id, tf.tok,
               round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6)
                   AS tfidf
        FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
    )
    SELECT doc_id, tok, tfidf
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                      ORDER BY tfidf DESC, tok) AS rnk
        FROM scored
    ) WHERE rnk <= 3
    """,
)
def q_tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document (subset %25): token explode -> tf
    per (doc, token) -> document frequency -> idf join -> per-doc top-k.
    ln() on identical double operands is bit-identical cross-engine, so
    the scores oracle-match at 6 dp. At 100 TB the df table is the small
    side (vocabulary) and broadcasts; tf never leaves its doc partition
    until the final top-k."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 25 == 0)
    tokens = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    tf = tokens.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = tokens.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = tokens.agg(
        F.countDistinct("doc_id").cast("double").alias("n_docs")
    )
    scored = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("doc_id", "tok", "tfidf")
    )


@query(
    "q_repetition_score",
    oracle="""
    WITH grams AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, greatest(len(string_split(text, ' ')), 2)),
                   i -> array_to_string(string_split(text, ' ')[i:i+1], ' ')
               )) AS bigram
        FROM documents WHERE doc_id % 25 = 0
    ),
    freq AS (
        SELECT doc_id, SUM(cnt) AS n_bigrams,
               MAX(cnt) AS top_bigram_n
        FROM (SELECT doc_id, bigram, COUNT(*) AS cnt
              FROM grams GROUP BY doc_id, bigram)
        GROUP BY doc_id
    )
    SELECT COUNT(*) AS n_docs,
           round(AVG(CAST(top_bigram_n AS DOUBLE) / n_bigrams), 6)
               AS avg_top_bigram_share,
           COUNT(CASE WHEN CAST(top_bigram_n AS DOUBLE) / n_bigrams > 0.2
                      THEN 1 END) AS n_repetitive
    FROM freq
    """,
)
def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (Gopher-style quality gate): share of the
    most frequent word bigram per document; docs above 20% flag as
    repetitive boilerplate. Bigram explode -> two nested counts, all on
    the doc_id key — one shuffle, no text movement."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 25 == 0)
    # r13 (guide §1.2/§2.3): pre-split text once (the old inline expr
    # re-split the doc per bigram position inside the lambda) and reduce
    # each bigram to an xxhash64 long scan-side — the (doc_id, bigram)
    # aggregate keys 8-byte longs, and the bigram itself never appears
    # in output (only counts do; collision-free-identical)
    bigrams = docs.select(
        "doc_id", F.split("text", " ").alias("_toks")
    ).select(
        "doc_id",
        F.explode(window_hashes(F.col("_toks"), 2)).alias("bigram"),
    )
    freq = (
        bigrams.groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.max("cnt").alias("top_bigram_n"),
        )
    )
    share = F.col("top_bigram_n").cast("double") / F.col("n_bigrams")
    return freq.agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(share), 6).alias("avg_top_bigram_share"),
        F.count(F.when(share > 0.2, 1)).alias("n_repetitive"),
    )


PACK_BUDGET = 512  # tokens per packed sequence (context-window stand-in)


@query(
    "q_sequence_pack",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT source, n_tokens,
               CAST(floor((SUM(n_tokens) OVER (PARTITION BY source
                        ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) - n_tokens)
                    / {PACK_BUDGET}.0) AS BIGINT) AS bin_id
        FROM toks
    )
    SELECT source,
           COUNT(DISTINCT bin_id) AS n_bins,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           round(CAST(SUM(n_tokens) AS DOUBLE)
                 / (COUNT(DISTINCT bin_id) * {PACK_BUDGET}), 6) AS fill_rate
    FROM packed GROUP BY source
    """,
)
def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: greedily assign documents (in
    stable doc_id order) to {PACK_BUDGET}-token context bins per source via
    running token counts — bin = floor(preceding_cumsum / budget) — and
    report bin counts + fill rates. One window per source key; the packing
    decision never leaves the executor."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.select(
        "source",
        "n_tokens",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / PACK_BUDGET
        ).alias("bin_id"),
    )
    return packed.groupBy("source").agg(
        F.countDistinct("bin_id").alias("n_bins"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(
            F.sum("n_tokens").cast("double")
            / (F.countDistinct("bin_id") * PACK_BUDGET),
            6,
        ).alias("fill_rate"),
    )


@query(
    "q_vocab_head",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
    )
    SELECT tok, COUNT(*) AS n
    FROM toks WHERE tok <> ''
    GROUP BY tok
    ORDER BY n DESC, tok ASC
    LIMIT 20
    """,
)
def q_vocab_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary head: global top-20 tokens by frequency (Zipf-head
    profiling a tokenizer build starts from). Token explode -> hash-agg ->
    TakeOrderedAndProject top-k; deterministic tie-break on the token."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).where(F.col("tok") != "")
    return (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(20)
    )


@query(
    "q_type_token_ratio",
    oracle="""
    WITH per_doc AS (
        SELECT doc_id, source,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_types
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           round(AVG(CAST(n_types AS DOUBLE) / n_tokens), 6) AS avg_ttr,
           COUNT(CASE WHEN CAST(n_types AS DOUBLE) / n_tokens < 0.3
                      THEN 1 END) AS n_low_diversity
    FROM per_doc GROUP BY source
    """,
)
def q_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio per document (lexical diversity): low TTR flags
    machine-generated or template text — another standard pretraining
    quality gate, all scan-local array expressions."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    ttr = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    per_doc = docs.select("source", ttr.alias("ttr"))
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("ttr"), 6).alias("avg_ttr"),
        F.count(F.when(F.col("ttr") < 0.3, 1)).alias("n_low_diversity"),
    )


@query(
    "q_char_entropy",
    oracle="""
    WITH per_doc AS (
        SELECT doc_id, source,
               round(-list_sum(list_transform(
                   list_sort(list_distinct(string_split(text, ''))),
                   c -> (CAST(len(list_filter(string_split(text, ''),
                                              x -> x = c)) AS DOUBLE)
                         / len(string_split(text, '')))
                        * ln(CAST(len(list_filter(string_split(text, ''),
                                                  x -> x = c)) AS DOUBLE)
                             / len(string_split(text, ''))))), 6)
               AS entropy
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(entropy AS DECIMAL(12,6))) AS DOUBLE) / COUNT(*)
               AS avg_entropy,
           COUNT(CASE WHEN entropy < 2.0 THEN 1 END) AS n_low_entropy
    FROM per_doc GROUP BY source
    """,
)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document (nats), aggregated per
    source — the standard cheap detector for degenerate text (repeated
    characters, binary junk, key-mashing) before it reaches training data.
    Natural-language text sits near 2.5-3.2 nats; flat or near-zero entropy
    flags garbage.

    Determinism contract: the per-doc fold runs over the SORTED distinct
    character set in both engines (identical summation order), is rounded
    to 6 decimals, and cross-row averaging goes through DECIMAL sums, so
    float association cannot drift the hash.

    Scale: entirely scan-local (O(chars x distinct_chars) per row inside
    codegen, no shuffle until the |sources|-row aggregate) — runs at
    parquet-scan speed at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    chars = F.split(F.col("text"), "")
    n = F.size(chars).cast("double")
    dch = F.array_sort(F.array_distinct(chars))
    p_of = lambda c: F.size(F.filter(chars, lambda x: x == c)).cast("double") / n  # noqa: E731
    ent = -F.aggregate(
        dch,
        F.lit(0.0),
        lambda acc, c: acc + p_of(c) * F.log(p_of(c)),
    )
    per_doc = docs.select("source", F.round(ent, 6).alias("entropy"))
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        (
            F.sum(F.col("entropy").cast("decimal(12,6)")).cast("double")
            / F.count("*")
        ).alias("avg_entropy"),
        F.count(F.when(F.col("entropy") < 2.0, 1)).alias("n_low_entropy"),
    )


@query(
    "q_vocab_overlap",
    oracle="""
    WITH v AS (
        SELECT DISTINCT source, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    sizes AS (SELECT source, COUNT(*) AS vocab FROM v GROUP BY source),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
        FROM v a JOIN v b ON a.token = b.token AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b,
           sa.vocab AS vocab_a, sb.vocab AS vocab_b, i.n_shared,
           round(CAST(i.n_shared AS DOUBLE)
                 / (sa.vocab + sb.vocab - i.n_shared), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    """,
)
def q_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source vocabulary overlap (Jaccard over distinct tokens) —
    the corpus diagnostic behind mix planning: sources with near-identical
    vocabularies add less diversity than their token counts suggest.

    Scale: vocabulary is sublinear in corpus size (Heaps' law), and the
    distinct is partial-aggregated map-side, so only (source, token) pairs
    shuffle — never documents. The intersection self-join keys on token;
    pairs materialize only for shared tokens, and the final matrix is
    |sources|^2 rows (driver-sized)."""
    docs = load_table(spark, sf_dir, "documents")
    v = docs.select(
        "source", F.explode(F.split("text", " ")).alias("token")
    ).distinct()
    sizes = v.groupBy("source").agg(F.count("*").alias("vocab"))
    a = v.select(F.col("source").alias("src_a"), "token")
    b = v.select(F.col("source").alias("src_b"), "token")
    inter = (
        a.join(b, ["token"])
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("vocab").alias("vocab_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("vocab").alias("vocab_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a", "src_b", "vocab_a", "vocab_b", "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


@query(
    "q_bigram_lm",
    oracle="""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    big AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, greatest(len(toks), 2)),
                   i -> toks[i] || ' ' || toks[i + 1])) AS bigram
        FROM tok WHERE len(toks) >= 2
    ),
    bc AS (SELECT bigram, COUNT(*) AS c12 FROM big GROUP BY bigram),
    uni AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    uc AS (SELECT token, COUNT(*) AS c1 FROM uni GROUP BY token),
    vsize AS (SELECT COUNT(*) AS v FROM uc)
    SELECT b.doc_id,
           COUNT(*) AS n_bigrams,
           round(AVG(ln((CAST(bc.c12 AS DOUBLE) + 1)
                        / (uc.c1 + vsize.v))), 6) AS avg_logprob
    FROM big b
    JOIN bc ON bc.bigram = b.bigram
    JOIN uc ON uc.token = string_split(b.bigram, ' ')[1]
    CROSS JOIN vsize
    GROUP BY b.doc_id
    """,
)
def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-one-smoothed bigram language model scoring — the step up from
    q_unigram_lm: fit corpus bigram/unigram counts, then score each doc by
    its mean smoothed bigram log-probability p(w2|w1) = (c12+1)/(c1+V).
    Low scorers have locally-implausible token sequences (shuffled or
    machine-mangled text) that a unigram model cannot see.

    Scale: bigram and unigram count tables are vocabulary-sized (Zipf-
    sublinear but unbounded) — they join back onto the bigram stream with
    no hard hint (AQE broadcasts while they fit, key-shuffle beyond); the
    only full-data shuffle is the per-doc aggregate. avg is rounded to 6 decimals so summation order
    cannot drift the hash."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(1)),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + F.lit(1))
        ),
    )
    big = (
        docs.where(F.size(toks) >= 2)
        .select("doc_id", F.explode(bigrams).alias("bigram"))
    )
    bc = big.groupBy("bigram").agg(F.count("*").alias("c12"))
    uc = (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("c1"))
    )
    vsize = uc.agg(F.count("*").alias("v"))
    w1 = F.split(F.col("bigram"), " ").getItem(0)
    # bc/uc are vocabulary-sized (sublinear but UNBOUNDED — a web-scale
    # bigram vocab is GBs): no hard broadcast hint; AQE broadcasts them
    # when they fit, else these are key-shuffle joins. Only the 1-row
    # vocab-size scalar keeps its hint.
    scored = (
        big.join(bc, "bigram")
        .join(uc, w1 == F.col("token"))
        .join(F.broadcast(vsize))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(
            F.avg(
                F.log(
                    (F.col("c12").cast("double") + 1)
                    / (F.col("c1") + F.col("v"))
                )
            ),
            6,
        ).alias("avg_logprob"),
    )


# --------------------------------------------------------------------------
# corpus-statistics family: KL drift, Zipf fit, PMI collocations, fertility
# --------------------------------------------------------------------------
ZIPF_TOP = 500  # tokens in the Zipf regression
PMI_MIN_COUNT = 5  # bigram support threshold
PMI_MIN = 0.3  # keep collocations with PMI >= this (nats)


@query(
    "q_kl_sources",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
    ),
    sc AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c_st
        FROM tok GROUP BY source, tok
    ),
    gc AS (
        SELECT tok, CAST(SUM(c_st) AS BIGINT) AS c_t FROM sc GROUP BY tok
    ),
    tot AS (
        SELECT CAST(SUM(c_t) AS BIGINT) AS n_global FROM gc
    ),
    ns AS (
        SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s FROM sc
        GROUP BY source
    ),
    terms AS (
        SELECT sc.source,
               CAST(round((CAST(sc.c_st AS DOUBLE) / ns.n_s)
                    * ln((CAST(sc.c_st AS DOUBLE) / ns.n_s)
                         / (CAST(gc.c_t AS DOUBLE) / tot.n_global)), 8)
                    AS DECIMAL(20,8)) AS term
        FROM sc
        JOIN gc USING (tok)
        JOIN ns ON ns.source = sc.source
        CROSS JOIN tot
    )
    SELECT s.source, ns.n_s AS n_tokens,
           round(CAST(SUM(s.term) AS DOUBLE), 6) AS kl_nats
    FROM terms s JOIN ns ON ns.source = s.source
    GROUP BY s.source, ns.n_s
    """,
)
def q_kl_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution drift: exact KL(p_source || p_corpus)
    in nats, summed over the source's own support (tokens with p=0
    contribute 0, so truncation IS the full KL; every support token exists
    globally, so q>0 needs no smoothing). The standing check that one
    ingest source hasn't drifted from the corpus mixture — the
    distributional cousin of q_vocab_overlap's set-based Jaccard.

    Determinism contract: each summand is computed from integer-count
    ratios (bit-identical ln in both engines), rounded to 8 decimals, and
    cross-row summed as DECIMAL — identical addends, exact addition, so
    float association cannot drift the hash (q_char_entropy pattern).

    Scale: one shuffle to (source, token) counts; global token counts
    derive from that aggregate (second, smaller shuffle on token) — raw
    text never moves. Totals are single-row broadcasts. Vocabulary is
    Zipf-bounded, so the count tables stay far below the fact table."""
    docs = load_table(spark, sf_dir, "documents")
    sc = (
        docs.select(
            "source",
            F.explode(F.split(F.lower("text"), " ")).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count("*").cast("long").alias("c_st"))
    )
    gc = sc.groupBy("tok").agg(F.sum("c_st").cast("long").alias("c_t"))
    ns = sc.groupBy("source").agg(F.sum("c_st").cast("long").alias("n_s"))
    tot = gc.agg(F.sum("c_t").cast("long").alias("n_global"))
    p = F.col("c_st").cast("double") / F.col("n_s")
    q = F.col("c_t").cast("double") / F.col("n_global")
    term = F.round(p * F.log(p / q), 8).cast("decimal(20,8)")
    return (
        sc.join(gc, "tok")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(tot))
        .select("source", F.col("n_s").alias("n_tokens"), term.alias("term"))
        .groupBy("source", "n_tokens")
        .agg(F.round(F.sum("term").cast("double"), 6).alias("kl_nats"))
    )


@query(
    "q_zipf_fit",
    oracle=f"""
    WITH gc AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok
              FROM documents)
        GROUP BY tok
        ORDER BY cnt DESC, tok
        LIMIT {ZIPF_TOP}
    ),
    xy AS (
        SELECT CAST(round(ln(CAST(ROW_NUMBER()
                   OVER (ORDER BY cnt DESC, tok) AS DOUBLE)), 10)
                   AS DECIMAL(28,10)) AS x,
               CAST(round(ln(CAST(cnt AS DOUBLE)), 10)
                   AS DECIMAL(28,10)) AS y
        FROM gc
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(y * y) AS DOUBLE) AS syy
        FROM xy
    )
    SELECT n AS n_terms,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_slope,
           round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS r2
    FROM s
    """,
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the top-{ZIPF_TOP} token frequencies: OLS slope
    of ln(freq) on ln(rank) plus R² — natural corpora fit ~ -1 with high
    R²; synthetic, templated, or spam-heavy corpora bend away. A one-row
    corpus fingerprint for drift dashboards.

    Determinism contract: ranks use a total order (count desc, token asc);
    ln terms are computed from integers, rounded to 10 decimals, and all
    five power sums run as DECIMAL over identical addends — exact
    addition, order-free. Regression algebra happens once, in the final
    single-row projection.

    Scale: token counting is the usual map-side-combinable shuffle; the
    top-{ZIPF_TOP} cut is TakeOrderedAndProject (per-partition top-k, tiny
    driver merge — no global sort), and the rank window orders only those
    {ZIPF_TOP} rows."""
    docs = load_table(spark, sf_dir, "documents")
    gc = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(ZIPF_TOP)
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))
    dec = lambda c: F.round(c, 10).cast("decimal(28,10)")  # noqa: E731
    xy = gc.select(
        dec(F.log(F.row_number().over(w).cast("double"))).alias("x"),
        dec(F.log(F.col("cnt").cast("double"))).alias("y"),
    )
    s = xy.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    num = n * sxy - sx * sy
    return s.select(
        n.alias("n_terms"),
        F.round(num / (n * sxx - sx * sx), 4).alias("zipf_slope"),
        F.round(num * num / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4)
        .alias("r2"),
    )


@query(
    "q_pmi_bigrams",
    oracle=f"""
    WITH w AS (
        SELECT string_split(lower(text), ' ') AS ws FROM documents
    ),
    bg AS (
        SELECT unnest(ws[1:len(ws)-1]) AS w1, unnest(ws[2:len(ws)]) AS w2
        FROM w WHERE len(ws) >= 2
    ),
    bc AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
        FROM bg GROUP BY w1, w2
    ),
    uc AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok
              FROM documents)
        GROUP BY tok
    ),
    tot AS (
        SELECT CAST((SELECT SUM(c_xy) FROM bc) AS BIGINT) AS b,
               CAST((SELECT SUM(c) FROM uc) AS BIGINT) AS n
    ),
    scored AS (
        SELECT bc.w1, bc.w2, bc.c_xy,
               ln((CAST(bc.c_xy AS DOUBLE) / tot.b)
                  / ((CAST(u1.c AS DOUBLE) / tot.n)
                     * (CAST(u2.c AS DOUBLE) / tot.n))) AS pmi
        FROM bc
        JOIN uc u1 ON u1.tok = bc.w1
        JOIN uc u2 ON u2.tok = bc.w2
        CROSS JOIN tot
        WHERE bc.c_xy >= {PMI_MIN_COUNT}
    )
    SELECT w1, w2, c_xy, round(pmi, 4) AS pmi
    FROM scored WHERE pmi >= {PMI_MIN}
    """,
)
def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information of adjacent token
    pairs, PMI = ln(p(xy)/(p(x)p(y))), keeping supported (count >=
    {PMI_MIN_COUNT}) pairs with PMI >= {PMI_MIN} nats — the classic
    detector for multiword units ("machine learning") and for templated
    boilerplate whose PMI saturates.

    Every PMI is a per-row function of four integer counts — no cross-row
    float sums at all, so both engines agree bit-for-bit before the
    4-decimal display rounding; the threshold compares identical doubles.

    Scale: bigram fan-out is scan-local (arrays_zip of two slices);
    counting shuffles (w1, w2) pairs once; the two unigram joins key on
    token against the Zipf-bounded vocab table. No window, no all-pairs."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.lower("text"), " ")
    pairs = (
        docs.select(ws.alias("ws"))
        .where(F.size("ws") >= 2)
        .select(
            F.slice("ws", 1, F.size("ws") - 1).alias("a1"),
            F.slice("ws", 2, F.size("ws") - 1).alias("a2"),
        )
        .select(F.explode(F.arrays_zip("a1", "a2")).alias("z"))
        .select(F.col("z.a1").alias("w1"), F.col("z.a2").alias("w2"))
    )
    bc = pairs.groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("c_xy")
    )
    uc = (
        docs.select(F.explode(ws).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    tot = bc.agg(F.sum("c_xy").cast("long").alias("b")).crossJoin(
        uc.agg(F.sum("c").cast("long").alias("n"))
    )
    u1 = uc.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = uc.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    pmi = F.log(
        (F.col("c_xy").cast("double") / F.col("b"))
        / (
            (F.col("c1").cast("double") / F.col("n"))
            * (F.col("c2").cast("double") / F.col("n"))
        )
    )
    return (
        bc.where(F.col("c_xy") >= PMI_MIN_COUNT)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c_xy", pmi.alias("pmi"))
        .where(F.col("pmi") >= PMI_MIN)
        .select("w1", "w2", "c_xy", F.round("pmi", 4).alias("pmi"))
    )


@query(
    "q_fertility",
    oracle=r"""
    WITH per_doc AS (
        SELECT lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_toks,
               CAST(len(regexp_extract_all(text,
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS BIGINT) AS bpe_toks,
               n_chars
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ws_toks) AS BIGINT) AS ws_tokens,
           CAST(SUM(bpe_toks) AS BIGINT) AS bpe_tokens,
           round(CAST(SUM(n_chars) AS DOUBLE) / SUM(bpe_toks), 6)
               AS chars_per_token,
           round(CAST(SUM(bpe_toks) AS DOUBLE) / SUM(ws_toks), 6)
               AS fertility
    FROM per_doc GROUP BY lang
    """,
)
def q_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish regex tokens per
    whitespace word, plus characters per token — the standard audit for
    how expensive each language is under a tokenizer (high fertility =
    more tokens per word = costlier training/serving for that slice).

    Ratios come from exact BIGINT token/char sums; doubles appear only in
    the final per-language projection.

    Scale: both tokenizations are scan-local regex/split inside codegen
    (no Python); the only shuffle is the |langs|-row aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("ws_toks"),
        F.size(tokenize_regex()).cast("long").alias("bpe_toks"),
        "n_chars",
    )
    return per.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("ws_toks").cast("long").alias("ws_tokens"),
        F.sum("bpe_toks").cast("long").alias("bpe_tokens"),
        F.round(
            F.sum("n_chars").cast("double") / F.sum("bpe_toks"), 6
        ).alias("chars_per_token"),
        F.round(
            F.sum("bpe_toks").cast("double") / F.sum("ws_toks"), 6
        ).alias("fertility"),
    )


@query(
    "q_token_len_hist",
    oracle="""
    WITH toks AS (
        SELECT len(unnest(string_split(text, ' '))) AS tok_len
        FROM documents
    ),
    hist AS (
        SELECT tok_len, COUNT(*) AS n_tokens FROM toks GROUP BY tok_len
    )
    SELECT tok_len, n_tokens,
           CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER () AS share
    FROM hist
    """,
)
def q_token_len_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide token-length histogram with shares — the tokenizer-
    design diagnostic (length distribution drives BPE vocab sizing and
    packing efficiency estimates).

    Scale: explode + length are scan-local; the shuffle carries
    (tok_len, partial-count) only, and the share window runs over the
    ~|max token length|-row aggregate. Share is a ratio of exact BIGINTs
    so it is bit-deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    hist = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy(F.length("tok").cast("long").alias("tok_len"))
        .agg(F.count("*").alias("n_tokens"))
    )
    total = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return hist.select(
        "tok_len",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.sum("n_tokens").over(total)).alias(
            "share"
        ),
    )


@query(
    "q_doc_lang_matrix",
    oracle="""
    SELECT source,
           COUNT(CASE WHEN lang = 'de' THEN 1 END) AS de,
           COUNT(CASE WHEN lang = 'en' THEN 1 END) AS en,
           COUNT(CASE WHEN lang = 'es' THEN 1 END) AS es,
           COUNT(CASE WHEN lang = 'fr' THEN 1 END) AS fr,
           COUNT(CASE WHEN lang = 'zh' THEN 1 END) AS zh,
           COUNT(*) AS n_docs
    FROM documents GROUP BY source
    """,
)
def q_doc_lang_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source x language crosstab — the corpus-mix contingency table a
    multilingual training run is planned from (complements q_domain_mix's
    token shares with doc counts on the language axis).

    Scale: conditional counts over an explicit language list make this ONE
    groupBy job and ONE scan (a pivot().count() plus a separate n_docs
    rollup would scan the corpus twice and add a join); the output is
    |sources| x |langs| — tiny. Count partials combine map-side."""
    docs = load_table(spark, sf_dir, "documents")
    langs = ["de", "en", "es", "fr", "zh"]
    return docs.groupBy("source").agg(
        *[
            F.count(F.when(F.col("lang") == lang, 1)).alias(lang)
            for lang in langs
        ],
        F.count("*").alias("n_docs"),
    )


# --------------------------------------------------------------------------
# BPE-fidelity token counting: pinned merge table applied as real merges
# --------------------------------------------------------------------------


def load_bpe_merges() -> list[tuple[str, str]]:
    """The pinned BPE merge table (seeds/bpe_merges.csv), rank order.
    Plain-file parse so the oracle SQL can embed the merges at import
    time; the Spark query loads the SAME file through the seed contract
    (seeds.load_seed) at query time."""
    import csv

    from saas_analytics_pipeline_spark.seeds import seed_path

    with open(seed_path("bpe_merges")) as f:
        rows = sorted(csv.DictReader(f), key=lambda r: int(r["rank"]))
    return [(r["left"], r["right"]) for r in rows]


def bpe_symbol_count(t: F.Column, merges: list[tuple[str, str]]) -> F.Column:
    """Symbols remaining after applying the merge list to ONE pre-token:
    char-split into a space-delimited symbol sequence, then each merge in
    rank order as one global left-to-right ' l r ' -> ' lr ' replace —
    ordered-single-pass BPE. Left-to-right non-overlapping replace equals
    BPE's leftmost-greedy merging of a pair's occurrences, and the pinned
    table is CLOSED under the single pass: applying the merges once in
    rank order reaches the same fixed point as iterative lowest-rank-
    first BPE for every corpus word (pinned by
    tests/test_operators.py::test_bpe_single_pass_matches_true_bpe)."""
    seq = F.concat(F.lit(" "), F.regexp_replace(t, "(.)", "$1 "))
    for left, right in merges:
        seq = F.replace(
            seq, F.lit(f" {left} {right} "), F.lit(f" {left}{right} ")
        )
    return F.size(F.split(F.trim(seq), " "))


def _bpe_count_sql(merges: list[tuple[str, str]]) -> str:
    """DuckDB twin of the per-doc BPE token count (same merge order,
    same replace semantics)."""
    s = r"' ' || regexp_replace(t, '(.)', '\1 ', 'g')"
    for left, right in merges:
        s = f"replace({s}, ' {left} {right} ', ' {left}{right} ')"
    return (
        "coalesce(list_sum(list_transform(regexp_extract_all(text, "
        r"'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+'), "
        f"t -> CAST(len(string_split(trim({s}), ' ')) AS BIGINT))), 0)"
    )


_BPE_MERGES = load_bpe_merges()


@query(
    "q_bpe_tokenize",
    oracle=rf"""
    WITH per_doc AS (
        SELECT lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_toks,
               CAST(len(regexp_extract_all(text,
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS BIGINT)
                   AS regex_toks,
               {_bpe_count_sql(_BPE_MERGES)} AS bpe_toks
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ws_toks) AS BIGINT) AS ws_tokens,
           CAST(SUM(regex_toks) AS BIGINT) AS regex_tokens,
           CAST(SUM(bpe_toks) AS BIGINT) AS bpe_tokens,
           round(CAST(SUM(bpe_toks) AS DOUBLE) / SUM(ws_toks), 6)
               AS fertility_bpe,
           round(CAST(SUM(bpe_toks) AS DOUBLE) / SUM(ws_toks)
                 - CAST(SUM(regex_toks) AS DOUBLE) / SUM(ws_toks), 6)
               AS fertility_delta
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
)
def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fidelity token counting: REAL BPE merges from a pinned,
    checked-in merge table (seeds/bpe_merges.csv — learned offline with
    classic pair-frequency BPE over the corpus word frequencies, the
    fx_rates seed pattern) instead of the regex proxy
    (tokenize_regex). Per language: whitespace / regex-proxy / BPE token
    counts, BPE fertility, and the fertility DELTA vs the proxy — the
    number that says how far the proxy's budget estimates
    (q_token_budget, q_sequence_pack) drift from a production tokenizer.

    Mechanics: each pre-token char-splits into a symbol sequence and the
    merge list applies in rank order as global string replaces —
    ordered-single-pass BPE, closed under the pinned table (see
    bpe_symbol_count). Everything is scan-local codegen string work
    (transform/replace/split higher-order chain, zero UDFs); the only
    shuffle is the |langs|-row aggregate. The seed is dim-sized and the
    merge chain compiles into the scan projection — at 100 TB this costs
    one pass over text, like every other text-family key.

    Reference scope: the reference has no tokenizer surface; north-star
    extension (BASELINE.json)."""
    from saas_analytics_pipeline_spark.seeds import load_seed

    # contract-path load (validates the CSV); dim-sized driver
    # materialization, the documented seed exception
    seed_rows = sorted(
        load_seed(spark, "bpe_merges").collect(), key=lambda r: int(r.rank)
    )
    merges = [(r.left, r.right) for r in seed_rows]
    docs = load_table(spark, sf_dir, "documents")
    bpe_per_doc = F.aggregate(
        F.transform(
            tokenize_regex(), lambda t: bpe_symbol_count(t, merges)
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v.cast("long"),
    )
    per = docs.select(
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("ws_toks"),
        F.size(tokenize_regex()).cast("long").alias("regex_toks"),
        bpe_per_doc.alias("bpe_toks"),
    )
    fert_bpe = F.sum("bpe_toks").cast("double") / F.sum("ws_toks")
    fert_regex = F.sum("regex_toks").cast("double") / F.sum("ws_toks")
    return (
        per.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("ws_toks").cast("long").alias("ws_tokens"),
            F.sum("regex_toks").cast("long").alias("regex_tokens"),
            F.sum("bpe_toks").cast("long").alias("bpe_tokens"),
            F.round(fert_bpe, 6).alias("fertility_bpe"),
            F.round(fert_bpe - fert_regex, 6).alias("fertility_delta"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Multi-pass BPE over the FULL merge table, applied at the vocabulary grain
# --------------------------------------------------------------------------


def load_bpe_merges_full() -> list[tuple[str, str]]:
    """The saturation-depth merge table (seeds/bpe_merges_full.csv, 89
    ranks learned by tools/bpe_learn.py — classic pair-frequency BPE run
    until every corpus word is a single symbol), rank order."""
    import csv

    from saas_analytics_pipeline_spark.seeds import seed_path

    with open(seed_path("bpe_merges_full")) as f:
        rows = sorted(csv.DictReader(f), key=lambda r: int(r["rank"]))
    return [(r["left"], r["right"]) for r in rows]


def bpe_apply_merges(seq: F.Column, merges: list[tuple[str, str]]) -> F.Column:
    """ONE ordered pass of the merge chain over an already-space-delimited
    symbol sequence: each merge in rank order as a global left-to-right
    ' l r ' -> ' lr ' replace. Shared by the single-pass per-token count
    (bpe_symbol_count) and the multi-pass vocabulary loop
    (q_bpe_multipass), which re-applies it until fixpoint."""
    for left, right in merges:
        seq = F.replace(
            seq, F.lit(f" {left} {right} "), F.lit(f" {left}{right} ")
        )
    return seq


def _bpe_chain_sql(expr: str, merges: list[tuple[str, str]]) -> str:
    """DuckDB twin of one ordered merge pass over a symbol sequence."""
    for left, right in merges:
        expr = f"replace({expr}, ' {left} {right} ', ' {left}{right} ')"
    return expr


_BPE_MERGES_FULL = load_bpe_merges_full()
_TOK_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


@query(
    "q_bpe_multipass",
    oracle=rf"""
    WITH RECURSIVE toks AS (
        SELECT lang, unnest(regexp_extract_all(text, '{_TOK_RE}')) AS tok
        FROM documents
    ),
    counts AS (
        SELECT lang, tok, COUNT(*) AS n FROM toks GROUP BY lang, tok
    ),
    vocab AS (SELECT DISTINCT tok FROM counts),
    it(tok, seq, iter) AS (
        SELECT tok, ' ' || regexp_replace(tok, '(.)', '\1 ', 'g'), 0
        FROM vocab
        UNION ALL
        SELECT it.tok, l.s2, it.iter + 1
        FROM it, LATERAL (
            SELECT {_bpe_chain_sql("it.seq", _BPE_MERGES_FULL)} AS s2
        ) l
        WHERE l.s2 <> it.seq
    ),
    fixed AS (
        SELECT tok, seq,
               ROW_NUMBER() OVER (PARTITION BY tok ORDER BY iter DESC) AS rn
        FROM it
    ),
    symtab AS (
        SELECT tok, CAST(len(string_split(trim(seq), ' ')) AS BIGINT) AS n_sym
        FROM fixed WHERE rn = 1
    )
    SELECT c.lang,
           CAST(SUM(c.n) AS BIGINT) AS n_words,
           CAST(SUM(c.n * s.n_sym) AS BIGINT) AS bpe_tokens,
           round(CAST(SUM(c.n * s.n_sym) AS DOUBLE) / SUM(c.n), 6)
               AS fertility_full,
           (SELECT CAST(MAX(iter) AS BIGINT) FROM it) AS n_passes
    FROM counts c JOIN symtab s ON s.tok = c.tok
    GROUP BY c.lang ORDER BY c.lang
    """,
)
def q_bpe_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass BPE application over the SATURATION-DEPTH merge table
    (89 ranks, tools/bpe_learn.py) — the production apply contract
    q_bpe_tokenize's 24-rank single-pass proof deferred: when a merge
    table is NOT single-pass-closed (a foreign/reordered table, the case
    the closure test fails loudly on), application must iterate the
    ordered pass until no symbol changes. The loop runs at the VOCABULARY
    grain, not the corpus grain: distinct pre-tokens (dim-sized — 31
    here, millions at 100 TB, never corpus-sized) iterate ordered merge
    passes as a driver loop whose only per-pass action is a 1-row
    changed-count scalar (the q_pagerank_converged discipline), with a
    localCheckpoint per pass so plan depth stays bounded at any
    iteration count; the corpus side is explode -> map-side-combined
    (lang, token) counts -> broadcast join against the solved symbol
    table — exactly the memoized-tokenizer shape production pipelines
    use. `n_passes` (max productive passes, == the recursive oracle's
    MAX(iter)) is in the hash, certifying BOTH engines iterated the
    same number of times; the learned table fixes at 1 (single-pass
    closure holds for honestly-learned tables — operands of merge k are
    products of merges < k), and the adversarial-table branch is pinned
    by tests/test_operators.py::test_bpe_multipass_nonclosed_table.

    Scale: the 100 TB text is touched once (explode + partial agg); the
    iterative work is proportional to |vocab| x passes, broadcast back.

    Reference scope: tokenizer surface is north-star extension
    (BASELINE.json); merge-table depth was verdict r07 #3."""
    from saas_analytics_pipeline_spark.seeds import load_seed

    seed_rows = sorted(
        load_seed(spark, "bpe_merges_full").collect(),
        key=lambda r: int(r.rank),
    )
    merges = [(r.left, r.right) for r in seed_rows]
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("lang", F.explode(tokenize_regex()).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("n"))
    )
    vocab = counts.select("tok").distinct()
    seqs = vocab.select(
        "tok",
        F.concat(
            F.lit(" "), F.regexp_replace(F.col("tok"), "(.)", "$1 ")
        ).alias("seq"),
    ).localCheckpoint()
    n_passes = 0
    while True:
        nxt = seqs.select(
            "tok", bpe_apply_merges(F.col("seq"), merges).alias("seq")
        ).localCheckpoint()
        # the only per-pass driver action: a 1-row changed-count scalar
        changed = (
            nxt.withColumnRenamed("seq", "new_seq")
            .join(seqs, "tok")
            .where(F.col("new_seq") != F.col("seq"))
            .count()
        )
        if changed == 0:
            break
        seqs = nxt
        n_passes += 1
    symtab = seqs.select(
        "tok", F.size(F.split(F.trim("seq"), " ")).cast("long").alias("n_sym")
    )
    return (
        counts.join(F.broadcast(symtab), "tok")
        .groupBy("lang")
        .agg(
            F.sum("n").cast("long").alias("n_words"),
            F.sum(F.col("n") * F.col("n_sym")).cast("long").alias("bpe_tokens"),
            F.round(
                F.sum(F.col("n") * F.col("n_sym")).cast("double")
                / F.sum("n"),
                6,
            ).alias("fertility_full"),
        )
        .withColumn("n_passes", F.lit(n_passes).cast("long"))
        .orderBy("lang")
    )
