"""Training-corpus curation operators: decontamination, deterministic
per-stratum sampling, domain-mix planning, and PII redaction.

These extend the reference's data-quality surface (PII scan README.md:59,
dirty-data rules data_gen/pseudo_code_rules.txt:30-47) to the operations a
large-scale LLM training-data pipeline runs over a document corpus:

- **benchmark decontamination** (q_contamination): find corpus documents
  sharing word n-grams with a held-out evaluation shard — the standard
  guard against test-set leakage into training data.
- **exact-k per-stratum sampling** (q_reservoir_per_key): a deterministic
  reservoir analogue — rank rows per stratum by a content hash and keep k.
  Complements q_hash_sample (rate-based): this one guarantees the count.
- **domain-mix planning** (q_domain_mix): per-source token shares and the
  resampling factor needed to hit a uniform target mix — the planning step
  before weighted interleaving of training shards.
- **PII redaction** (q_pii_redact): the transform side of q_pii_scan —
  regexp-replace emails and verify zero remain.

Scale notes (100 TB):
- Contamination is an inverted-index join: only (doc_id, ngram-hash) pairs
  shuffle, never text; the eval shard is a small fraction by construction
  so its index broadcasts. All-pairs comparison never materializes.
- Reservoir ranking windows per-stratum over (hash, id) — one shuffle by
  stratum; with heavily skewed strata, pre-filter with an approximate
  per-stratum hash threshold first, then rank survivors (two-phase top-k).
- Domain mix aggregates to |sources| rows before any window — driver-sized.
- Redaction is scan-local (no shuffle): regexp_replace inside codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from saas_analytics_pipeline_spark.functions import (
    EMAIL_RE,
    hash60,
    hash60_sql,
    window_hashes,
)
from saas_analytics_pipeline_spark.qcatalog import query
from saas_analytics_pipeline_spark.sources import load_table, spread_for_fanout

NGRAM_W = 5  # contamination n-gram width (words)
EVAL_MOD = 10  # doc_id % EVAL_MOD == 0 -> held-out eval shard (10%)
RESERVOIR_K = 5  # per-stratum sample size
CHUNK_TOKENS = 64  # context-chunk size (whitespace tokens)
CHUNK_STRIDE = 48  # chunk stride (overlap = CHUNK_TOKENS - CHUNK_STRIDE)
N_SHARDS = 64  # training-order output shards
BUDGET_SHIFT = 55  # 60-bit hash >> 55 -> 32 range buckets for global cumsum
BOILER_W = 2  # boilerplate n-gram width (words)
BOILER_PCT = 8  # n-gram is boilerplate when present in >= this % of docs
Q_BITS_MAX = 127  # int8 symmetric quantization range


def word_ngrams(col: str = "text", w: int = NGRAM_W) -> F.Column:
    """Sliding word n-grams as an array column (JVM-side; no Python).
    Docs shorter than w words yield one n-gram: the whole doc.

    Query paths that only compare n-grams hash them instead, with
    functions.window_hashes over a pre-split tokens column — no n-gram
    string is built, and the split is not re-evaluated per position."""
    words = F.split(F.col(col), " ")
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(words) - F.lit(w - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(words, i, w), " "),
    )


def _ngrams_sql(w: int = NGRAM_W) -> str:
    """DuckDB twin of :func:`word_ngrams` (1-based inclusive list slicing)."""
    return f"""
        list_transform(
            range(1, greatest(len(string_split(text, ' ')) - {w - 2}, 2)),
            i -> array_to_string(string_split(text, ' ')[i:i+{w - 1}], ' ')
        )
    """


@query(
    "q_contamination",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, doc_id % {EVAL_MOD} = 0 AS is_eval,
               {hash60_sql("g")} AS h
        FROM (SELECT doc_id, unnest({_ngrams_sql()}) AS g FROM documents)
    ),
    ev AS (SELECT DISTINCT h, doc_id AS eval_doc FROM sh WHERE is_eval),
    co AS (SELECT DISTINCT doc_id, h FROM sh WHERE NOT is_eval)
    SELECT co.doc_id,
           COUNT(DISTINCT co.h) AS n_shared_ngrams,
           COUNT(DISTINCT ev.eval_doc) AS n_eval_docs
    FROM co JOIN ev ON co.h = ev.h
    GROUP BY co.doc_id
    """,
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing {NGRAM_W}-word
    n-grams with the held-out eval shard (doc_id % {EVAL_MOD} == 0), with
    how many distinct n-grams and eval docs each one collides with. These
    are the rows a curation pipeline drops (or flags) before training.

    Scale: classic inverted-index join. Each side reduces to distinct
    (doc_id, ngram-hash60) pairs — text never KEY-shuffles (the one
    Exchange that may carry text is the conditional volume-neutral
    pre-explode spread, a no-op on multi-file lakes; sources.py) — and
    candidate pairs materialize ONLY on shared n-grams. The eval shard is a small
    fixed fraction, so Spark broadcasts its index (AQE converts; at a real
    100 TB corpus with a fixed benchmark suite the eval index is KBs)."""
    docs = spread_for_fanout(load_table(spark, sf_dir, "documents"))
    # the eval/corpus split happens BELOW the explode: each branch expands
    # only its own slice, so the total n-gram fan-out is 1x the corpus
    # (filtering an already-exploded shared frame would explode everything
    # twice — once per consumer — since Spark re-executes shared subplans)
    # r13 (guide §1.2): the n-gram key is INTERNAL (both outputs are
    # counts of distinct keys), so xxhash64 replaces the md5-derived
    # hash60 — one JVM hash instruction vs md5+hex+conv per n-gram;
    # collision-free in practice, so distinct counts match the
    # string-keyed oracle (re-verified at sf0.001/0.01/0.1).
    # r14 (guide §2.4): (doc_id, h) dedup happens WITHIN the doc's n-gram
    # array (array_distinct), scan-side — rows are then globally distinct
    # by construction (doc_id differs across docs), so the r13
    # `.distinct()` on each side (a corpus-sized Exchange + aggregate
    # pair on the probe side, a second Exchange under the eval
    # broadcast) is gone from the plan entirely. Within-doc repeats are
    # the dominant duplication in repetitive text, so the join fan-out
    # and the post-join distinct aggregate see the same row multiset the
    # r13 shuffled dedup produced — at zero shuffled bytes.
    def _index(side: DataFrame) -> DataFrame:
        return side.select(
            "doc_id", F.split("text", " ").alias("_toks")
        ).select(
            "doc_id",
            F.explode(
                F.array_distinct(window_hashes(F.col("_toks"), NGRAM_W))
            ).alias("h"),
        )

    ev = _index(docs.where(F.col("doc_id") % EVAL_MOD == 0)).withColumnRenamed(
        "doc_id", "eval_doc"
    )
    co = _index(docs.where(F.col("doc_id") % EVAL_MOD != 0))
    # the eval index here is a MODULO fraction of the corpus (sf-scaled),
    # unlike a real fixed benchmark suite — so no hard hint; AQE broadcasts
    # it at any realistic eval-set size
    return (
        co.join(ev, "h")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("h").alias("n_shared_ngrams"),
            F.countDistinct("eval_doc").alias("n_eval_docs"),
        )
    )


@query(
    "q_reservoir_per_key",
    oracle=f"""
    WITH ranked AS (
        SELECT source, doc_id, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY {hash60_sql("CAST(doc_id AS VARCHAR)")}, doc_id
               ) AS rnk
        FROM documents
    )
    SELECT source, doc_id, n_chars, rnk
    FROM ranked WHERE rnk <= {RESERVOIR_K}
    """,
)
def q_reservoir_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact-k sample per stratum: rank each source's docs by
    a content hash (uniform, reproducible across runs/retries — rand() is
    neither) and keep the first {RESERVOIR_K}. The distributed analogue of
    per-key reservoir sampling with a fixed seed.

    Scale: one shuffle (window partitioned by source). For pathologically
    hot strata, two-phase it: per-partition top-k partials (any local sort)
    then a final top-k merge — same result, bounded task memory."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        hash60(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select(
            "source", "doc_id", "n_chars", F.row_number().over(w).alias("rnk")
        )
        .where(F.col("rnk") <= RESERVOIR_K)
    )


@query(
    "q_domain_mix",
    oracle="""
    WITH per_source AS (
        SELECT source,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    )
    SELECT source, n_tokens,
           round(CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER (), 6)
               AS token_share,
           round((CAST(SUM(n_tokens) OVER () AS DOUBLE)
                  / COUNT(*) OVER ()) / n_tokens, 6) AS resample_factor
    FROM per_source
    """,
)
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix planning: whitespace-token counts per source, each
    source's share of the corpus, and the resampling factor that would
    equalize the mix (factor > 1 -> upsample, < 1 -> downsample). This is
    the input to weighted shard interleaving when composing training data.

    Scale: the corpus aggregates to |sources| rows FIRST (map-side partial
    token sums); the global-window share math runs on that driver-sized
    frame, so the unpartitioned window is safe by construction."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).alias("n_tokens")
    )
    w = Window.partitionBy()
    return per_source.select(
        "source",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w), 6
        ).alias("token_share"),
        F.round(
            (F.sum("n_tokens").over(w).cast("double") / F.count("*").over(w))
            / F.col("n_tokens"),
            6,
        ).alias("resample_factor"),
    )


@query(
    "q_pii_redact",
    oracle=f"""
    WITH red AS (
        SELECT props,
               regexp_replace(props, '{EMAIL_RE}', '[EMAIL]', 'g') AS clean
        FROM events WHERE props IS NOT NULL
    )
    SELECT COUNT(*) AS n_rows,
           COUNT(*) FILTER (WHERE clean <> props) AS n_redacted_rows,
           COUNT(*) FILTER (WHERE regexp_matches(clean, '{EMAIL_RE}'))
               AS n_pii_after,
           CAST(SUM(length(props) - length(clean)) AS BIGINT) AS chars_removed
    FROM red
    """,
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (the transform q_pii_scan only detects): replace every
    email in the payload with '[EMAIL]' and audit the result — rows
    touched, residual PII (must be 0), characters removed. Scan-local
    regexp_replace inside whole-stage codegen; no shuffle, no Python."""
    ev = load_table(spark, sf_dir, "events").where(F.col("props").isNotNull())
    red = ev.select(
        "props",
        F.regexp_replace("props", EMAIL_RE, "[EMAIL]").alias("clean"),
    )
    return red.agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(F.col("clean") != F.col("props"), 1)).alias(
            "n_redacted_rows"
        ),
        F.count(F.when(F.col("clean").rlike(EMAIL_RE), 1)).alias("n_pii_after"),
        F.sum(F.length("props") - F.length("clean"))
        .cast("long")
        .alias("chars_removed"),
    )


# the chunk frame as a DuckDB CTE block — shared verbatim by q_chunk_docs
# and q_chunk_dedup so the dedup audits the SAME chunks the chunker emits
_CHUNKS_CTE = f"""
    t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents
    ),
    chunks AS (
        SELECT doc_id, toks, n,
               unnest(range(0, 1 + (greatest(n - {CHUNK_TOKENS}, 0)
                                    + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE}))
                   AS chunk_idx
        FROM t
    ),
    chunk_rows AS (
        SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
               CAST(len(toks[chunk_idx * {CHUNK_STRIDE} + 1 :
                         chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}]) AS INT)
                   AS n_tokens,
               {hash60_sql(f"array_to_string(toks[chunk_idx * {CHUNK_STRIDE} + 1 :"
                           f" chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}], ' ')")}
                   AS chunk_hash
        FROM chunks
    )
"""


def chunk_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, chunk_idx, n_tokens, chunk_hash) for every sliding
    {CHUNK_TOKENS}-token window (stride {CHUNK_STRIDE}) — the Spark twin
    of _CHUNKS_CTE, factored so q_chunk_docs and q_chunk_dedup emit the
    same chunks by construction. Pure JVM explode, scan-local."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    n_chunks = F.lit(1) + F.floor(
        (F.greatest(n - F.lit(CHUNK_TOKENS), F.lit(0)) + F.lit(CHUNK_STRIDE - 1))
        / F.lit(CHUNK_STRIDE)
    ).cast("int")
    chunked = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - F.lit(1))).alias("chunk_idx"),
    )
    chunk = F.slice(
        F.col("toks"), F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_TOKENS
    )
    return chunked.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size(chunk).cast("int").alias("n_tokens"),
        hash60(F.array_join(chunk, " ")).alias("chunk_hash"),
    )


@query(
    "q_chunk_docs",
    oracle=f"""
    WITH {_CHUNKS_CTE}
    SELECT doc_id, chunk_idx, n_tokens, chunk_hash FROM chunk_rows
    """,
)
def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context chunking for training prep: each document split into
    {CHUNK_TOKENS}-token windows with {CHUNK_TOKENS - CHUNK_STRIDE}-token
    overlap (stride {CHUNK_STRIDE}); emits one row per chunk with its token
    count and a content hash (the hash makes the oracle verify chunk
    CONTENT, not just counts).

    Scale: pure JVM explode — sequence/slice/array_join inside codegen, no
    Python, no shuffle (chunking is scan-local; the downstream writer
    partitions by whatever sharding the training job wants). Fan-out is
    bounded: ~n_tokens/stride rows per doc."""
    return chunk_frame(load_table(spark, sf_dir, "documents"))


@query(
    "q_chunk_dedup",
    oracle=f"""
    WITH {_CHUNKS_CTE},
    g AS (
        SELECT chunk_hash,
               COUNT(*) AS n_copies,
               COUNT(DISTINCT doc_id) AS n_docs
        FROM chunk_rows GROUP BY chunk_hash
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
           CAST(SUM(n_copies) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) FILTER (WHERE n_copies >= 2) AS BIGINT)
               AS n_dup_chunks,
           CAST(SUM(CASE WHEN n_copies >= 2 THEN n_copies - 1 ELSE 0 END)
                AS BIGINT) AS n_removable,
           CAST(COUNT(*) FILTER (WHERE n_docs >= 2) AS BIGINT)
               AS n_cross_doc
    FROM g
    """,
)
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level dedup audit — the dedup grain of a RAG store or a
    packed-context training set (doc-level dedup misses boilerplate
    chunks shared by otherwise-distinct docs; span rewrite targets
    n-grams, this targets exactly the retrieval/packing unit): over the
    SAME chunk frame q_chunk_docs certifies (shared chunk_frame /
    _CHUNKS_CTE), count distinct chunk contents, duplicated ones, the
    removable excess copies, and cross-document duplicates (the
    boilerplate signal — within-doc repeats come from stride overlap on
    repetitive text).

    Scale: chunking is scan-local; only (chunk_hash, doc_id) pairs
    shuffle once — text never moves; the final rollup is a 1-row
    map-side-combinable reduce over the hash-grain aggregate."""
    g = (
        chunk_frame(load_table(spark, sf_dir, "documents"))
        .groupBy("chunk_hash")
        .agg(
            F.count("*").alias("n_copies"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )
    dup = F.col("n_copies") >= 2
    return g.agg(
        F.count("*").alias("n_distinct_chunks"),
        F.sum("n_copies").cast("long").alias("n_chunks"),
        F.count(F.when(dup, 1)).alias("n_dup_chunks"),
        F.sum(F.when(dup, F.col("n_copies") - 1).otherwise(0))
        .cast("long")
        .alias("n_removable"),
        F.count(F.when(F.col("n_docs") >= 2, 1)).alias("n_cross_doc"),
    )


@query(
    "q_unigram_lm",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    vocab AS (
        SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token
    ),
    tot AS (SELECT SUM(cnt) AS n_total FROM vocab)
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           round(AVG(ln(CAST(v.cnt AS DOUBLE) / tot.n_total)), 6)
               AS avg_logprob
    FROM tok t JOIN vocab v ON t.token = v.token CROSS JOIN tot
    GROUP BY t.doc_id
    """,
)
def q_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring — the perplexity-proxy quality
    filter: fit MLE unigram probabilities on the corpus itself, then score
    each document by its mean token log-probability. Documents full of
    rare tokens score low and are candidates for the drop list (the
    cheap-and-cheerful stand-in for a real LM perplexity filter).

    Scale: the vocabulary aggregates map-side to |vocab| rows (Zipf: far
    smaller than the corpus) and joins back onto the token stream without
    a hard hint (AQE broadcasts while it fits), so the only full-data
    shuffle is the final per-doc aggregate. Rounded to
    6 decimals so float summation order cannot drift the hash."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    vocab = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n_total"))
    # vocab is Zipf-sublinear but unbounded — no hard hint (AQE broadcasts
    # when it fits); the 1-row total keeps its hint
    scored = tok.join(vocab, "token").join(F.broadcast(total))
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(
            F.avg(F.log(F.col("cnt").cast("double") / F.col("n_total"))), 6
        ).alias("avg_logprob"),
    )


@query(
    "q_train_shuffle",
    oracle=f"""
    WITH h AS (
        SELECT doc_id,
               {hash60_sql("'shuf1:' || CAST(doc_id AS VARCHAR)")} AS h
        FROM documents
    )
    SELECT doc_id, h % {N_SHARDS} AS shard,
           ROW_NUMBER() OVER (
               PARTITION BY h % {N_SHARDS} ORDER BY h, doc_id
           ) AS pos
    FROM h
    """,
)
def q_train_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every document gets a
    shard (hash % {N_SHARDS}) and a position within its shard (rank of the
    hash). Reading shards round-robin replays the same pseudo-random
    document order on every run — the reproducible replacement for
    ``df.orderBy(rand())``, whose order changes across retries and task
    re-execution. Bump the salt ('shuf1:' -> 'shuf2:') for a fresh epoch
    permutation.

    Scale: NO global sort. Ranking is windowed per shard — one shuffle on
    the shard key into {N_SHARDS} independent sorts, each 1/{N_SHARDS} of
    the corpus (at 100 TB raise N_SHARDS to the training shard count, e.g.
    1024, keeping per-sort state small). The hash is uniform, so shards
    are balanced by construction — no skew mitigation needed."""
    docs = load_table(spark, sf_dir, "documents")
    h = hash60(F.concat(F.lit("shuf1:"), F.col("doc_id").cast("string")))
    t = docs.select("doc_id", h.alias("h"), (h % N_SHARDS).alias("shard"))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return t.select(
        "doc_id", "shard", F.row_number().over(w).alias("pos")
    )


def bucketed_cumsum(
    t: DataFrame, weight_col: str, out_col: str = "cum_tokens"
) -> DataFrame:
    """Global running sum of ``weight_col`` in (h, doc_id) order WITHOUT a
    global sort: requires a ``bucket`` column that RANGE-partitions ``h``
    (bucket order == h order, e.g. h >> {BUDGET_SHIFT}). Windows run per
    bucket; each bucket's offset is the prefix sum of the driver-sized
    bucket-total table, broadcast back. Also returns the grand ``total``
    column for budget predicates."""
    btot = t.groupBy("bucket").agg(F.sum(weight_col).alias("btot"))
    woff = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = btot.select(
        "bucket",
        F.coalesce(F.sum("btot").over(woff), F.lit(0)).alias("offset"),
        F.sum("btot").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("total"),
    )
    wcum = (
        Window.partitionBy("bucket")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (F.col("offset") + F.sum(weight_col).over(wcum)).alias(out_col)
    return t.join(F.broadcast(offsets), "bucket").select(
        *t.columns, cum, "total"
    )


@query(
    "q_token_budget",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
               {hash60_sql("'tb:' || CAST(doc_id AS VARCHAR)")} AS h
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING
               ) AS BIGINT) AS cum_tokens
        FROM t
    )
    SELECT doc_id, n_tokens, cum_tokens FROM c
    WHERE cum_tokens * 4 <= (SELECT SUM(n_tokens) FROM t)
    """,
)
def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sampling: walk the corpus in deterministic hash order
    and keep documents until the cumulative token count reaches the budget
    (25% of corpus tokens; the ``cum * 4 <= total`` integer compare avoids
    float boundary drift). This is how a mixture recipe takes "the first
    N tokens of source X" reproducibly.

    Scale: a global running sum WITHOUT a global sort. The 60-bit hash is
    RANGE-bucketed by its top 5 bits (>> {BUDGET_SHIFT} -> 32 contiguous
    buckets), so bucket order == hash order; per-bucket cumsums are
    windowed independently, and each bucket's starting offset is the
    prefix sum of the 32-row bucket-total table (driver-sized, broadcast
    back). Identical result to the oracle's single global window, but the
    big data only ever shuffles once, by bucket."""
    docs = load_table(spark, sf_dir, "documents")
    h = hash60(F.concat(F.lit("tb:"), F.col("doc_id").cast("string")))
    t = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
        h.alias("h"),
        F.shiftright(h, BUDGET_SHIFT).alias("bucket"),
    )
    return (
        bucketed_cumsum(t, "n_tokens")
        .where(F.col("cum_tokens") * 4 <= F.col("total"))
        .select("doc_id", "n_tokens", "cum_tokens")
    )


@query(
    "q_boilerplate",
    oracle=f"""
    WITH g AS (
        SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id, unnest({_ngrams_sql(BOILER_W)}) AS g
            FROM documents
        )
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    df AS (
        SELECT g, COUNT(*) AS df FROM g GROUP BY g
    ),
    boiler AS (
        SELECT g FROM df CROSS JOIN n
        WHERE df * 100 >= {BOILER_PCT} * n_docs
    )
    SELECT g.doc_id,
           COUNT(*) AS n_grams,
           COUNT(b.g) AS n_boiler,
           round(CAST(COUNT(b.g) AS DOUBLE) / COUNT(*), 4) AS boiler_ratio
    FROM g LEFT JOIN boiler b ON g.g = b.g
    GROUP BY g.doc_id
    """,
)
def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection by corpus-wide document frequency: a word
    {BOILER_W}-gram appearing in >= {BOILER_PCT}% of documents is
    boilerplate (headers, footers, license blurbs at web scale); each doc
    reports how many of its distinct {BOILER_W}-grams are boilerplate and
    the ratio — the curation signal for "mostly template" pages. The DF
    threshold is a FRACTION of corpus size, so the rule is scale-invariant.

    Scale: two hash aggregations over (doc_id, gram) pairs — text itself
    never shuffles after the scan-local n-gram explode. The boilerplate
    set is high-DF by definition, hence tiny relative to the gram
    vocabulary (Zipf head), so Spark broadcasts it back onto the pair
    stream; the corpus-size scalar is a 1-row broadcast cross join."""
    docs = load_table(spark, sf_dir, "documents")
    # r13 (guide §2.3): the gram itself never reaches the output (only
    # per-doc counts do), so it dies scan-side into an 8-byte xxhash64 —
    # the (doc_id, g) distinct, the DF groupBy and the boiler join-back
    # all shuffle/compare longs instead of raw bigram strings, and this
    # subplan is consumed twice (df + join-back), doubling the saving.
    g = docs.select("doc_id", F.split("text", " ").alias("_toks")).select(
        "doc_id",
        F.explode(window_hashes(F.col("_toks"), BOILER_W)).alias("g"),
    ).distinct()
    n = docs.agg(F.count("*").alias("n_docs"))
    df = g.groupBy("g").agg(F.count("*").alias("df"))
    boiler = (
        df.join(F.broadcast(n))
        .where(F.col("df") * 100 >= BOILER_PCT * F.col("n_docs"))
        .select("g", F.lit(1).alias("is_boiler"))
    )
    return (
        g.join(F.broadcast(boiler), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("is_boiler").alias("n_boiler"),
            F.round(
                F.count("is_boiler").cast("double") / F.count("*"), 4
            ).alias("boiler_ratio"),
        )
    )


@query(
    "q_embed_quantize",
    oracle=f"""
    WITH v AS (
        SELECT label, embedding,
               list_max(list_transform(
                   embedding, x -> abs(CAST(x AS DOUBLE))
               )) / {Q_BITS_MAX} AS scale
        FROM embeddings
    ),
    e AS (
        SELECT label, scale,
               CASE WHEN scale > 0 THEN
                   list_aggregate(list_transform(
                       embedding,
                       x -> abs(CAST(x AS DOUBLE)
                            - floor(CAST(x AS DOUBLE) / scale + 0.5) * scale)
                   ), 'sum') / len(embedding)
               ELSE 0.0 END AS mae
        FROM v
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(SUM(CAST(scale AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*)
               AS avg_scale,
           CAST(SUM(CAST(mae AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*)
               AS avg_mae
    FROM e GROUP BY label
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization audit: symmetric per-vector scaling
    (scale = max|x| / {Q_BITS_MAX}), round-half-up code assignment
    (floor(x/scale + 0.5) — spelled identically in both engines so ties
    agree), and the reconstruction mean-absolute-error per label. This is
    the quality gate run before shipping quantized vectors to an ANN
    index: MAE should sit near scale/2 on average; labels far above that
    indicate outlier dimensions needing per-dimension scales.

    Scale: everything per-row inside codegen (array transform/aggregate —
    no Python, no explode: a 64-dim corpus stays 1 row/vector); the only
    shuffle is the |labels|-row final aggregate. Cross-row float sums go
    through DECIMAL(18,12) so partial-aggregation order cannot drift the
    result (house money-math rule, functions/__init__.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = F.col("embedding")
    xd = F.transform(x, lambda e: F.abs(e.cast("double")))
    scale = (F.array_max(xd) / Q_BITS_MAX).alias("scale")
    v = emb.select("label", "embedding", scale)
    err = F.transform(
        x,
        lambda e: F.abs(
            e.cast("double")
            - F.floor(e.cast("double") / F.col("scale") + 0.5)
            * F.col("scale")
        ),
    )
    mae = (
        F.when(
            F.col("scale") > 0,
            F.aggregate(err, F.lit(0.0), lambda a, b: a + b) / F.size(x),
        )
        .otherwise(0.0)
        .alias("mae")
    )
    e = v.select("label", "scale", mae)
    dec = lambda c: F.sum(F.col(c).cast("decimal(18,12)")).cast("double")  # noqa: E731
    return e.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        (dec("scale") / F.count("*")).alias("avg_scale"),
        (dec("mae") / F.count("*")).alias("avg_mae"),
    )


MIX_K = 200  # interleave prefix length emitted for inspection
MIX_W_EVEN = 3  # weight for even-numbered sources
MIX_W_ODD = 1  # weight for odd-numbered sources


@query(
    "q_mix_interleave",
    oracle=f"""
    WITH r AS (
        SELECT doc_id, source,
               CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 0
                    THEN {MIX_W_EVEN} ELSE {MIX_W_ODD} END AS w,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY {hash60_sql("'mix:' || CAST(doc_id AS VARCHAR)")},
                            doc_id
               ) AS src_rank
        FROM documents
    )
    SELECT doc_id, source, src_rank,
           CAST((2 * src_rank - 1) * ({MIX_W_EVEN * MIX_W_ODD * 2} // w)
                AS BIGINT) AS priority
    FROM r
    ORDER BY priority, source, doc_id
    LIMIT {MIX_K}
    """,
)
def q_mix_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source interleaving — the materialization step after
    q_domain_mix's planning: every source's documents are ranked in
    deterministic hash order, then merged into one training stream where a
    weight-{MIX_W_EVEN} source contributes {MIX_W_EVEN}x the documents of
    a weight-{MIX_W_ODD} source in ANY prefix (low-discrepancy virtual-
    time schedule: doc r of a weight-w source runs at priority
    (2r-1)/2w, scaled to exact integers so both engines order
    identically). Emits the first {MIX_K} positions.

    Scale: per-source rank windows (one shuffle by source; skewed sources
    split fine since rank is the only state), then the global prefix is
    top-k — TakeOrderedAndProject, per-partition take + driver merge of
    {MIX_K}-row heaps, never a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    w = (
        F.when(
            F.substring("source", 4, 10).cast("int") % 2 == 0, MIX_W_EVEN
        ).otherwise(MIX_W_ODD)
    )
    h = hash60(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
    r = docs.select(
        "doc_id",
        "source",
        w.alias("w"),
        F.row_number()
        .over(Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id")))
        .alias("src_rank"),
    )
    priority = (
        (2 * F.col("src_rank") - 1) * (MIX_W_EVEN * MIX_W_ODD * 2 / F.col("w"))
    ).cast("long")
    return (
        r.select("doc_id", "source", "src_rank", priority.alias("priority"))
        .orderBy("priority", "source", "doc_id")
        .limit(MIX_K)
    )


SPLIT_TRAIN_PCT = 80  # hash-bucket < 80 -> train
SPLIT_VAL_PCT = 90  # 80..89 -> val, 90..99 -> test


@query(
    "q_stratified_split",
    oracle=f"""
    WITH b AS (
        SELECT source,
               len(string_split(text, ' ')) AS n_tokens,
               {hash60_sql("'split:' || CAST(doc_id AS VARCHAR)")} % 100
                   AS bucket
        FROM documents
    ),
    tagged AS (
        SELECT source, n_tokens,
               CASE WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
                    WHEN bucket < {SPLIT_VAL_PCT} THEN 'val'
                    ELSE 'test' END AS split
        FROM b
    )
    SELECT source, split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           round(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY source), 6) AS share
    FROM tagged GROUP BY source, split
    """,
)
def q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified train/val/test split: every document lands
    in a split by content-independent hash bucket (hash60 of its id), so
    the assignment is reproducible across runs, retries, and repartitions
    — rand()-based splits are none of those. Reports per source x split
    document and token counts plus the realized share, the audit that each
    stratum actually got its 80/10/10.

    Scale: the bucket is scan-local; the aggregate is |sources| x 3 rows,
    and the share window runs over that driver-sized frame only. The split
    column doubles as a partition key for the downstream write
    (``partitionBy('split')``), so training readers prune to their shard."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        hash60(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    )
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    agg = (
        docs.select(
            "source",
            split.alias("split"),
            F.size(F.split("text", " ")).alias("toks"),
        )
        .groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").cast("long").alias("n_tokens"),
        )
    )
    w = Window.partitionBy("source")
    return agg.select(
        "source", "split", "n_docs", "n_tokens",
        F.round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(w), 6
        ).alias("share"),
    )


# --------------------------------------------------------------------------
# cross-document duplicate-span fraction + perplexity-proxy bucketing
# --------------------------------------------------------------------------
DUP_FLAG_FRAC = 0.3  # doc flagged when > this fraction of its shingles dup


@query(
    "q_dup_span_fraction",
    oracle=f"""
    WITH shx AS (
        SELECT doc_id, source, unnest(list_distinct({_ngrams_sql()})) AS sh
        FROM documents
    ),
    dfc AS (
        SELECT sh, CAST(COUNT(*) AS BIGINT) AS ndocs FROM shx GROUP BY sh
    ),
    per_doc AS (
        SELECT s.doc_id, s.source,
               COUNT(*) AS n_sh,
               SUM(CASE WHEN dfc.ndocs >= 2 THEN 1 ELSE 0 END) AS n_dup
        FROM shx s JOIN dfc USING (sh)
        GROUP BY s.doc_id, s.source
    ),
    frac AS (
        SELECT source,
               CAST(round(CAST(n_dup AS DOUBLE) / n_sh, 8)
                    AS DECIMAL(12,8)) AS f,
               CAST(n_dup AS DOUBLE) / n_sh > {DUP_FLAG_FRAC} AS flagged
        FROM per_doc
    )
    SELECT source, COUNT(*) AS n_docs,
           round(CAST(SUM(f) AS DOUBLE) / COUNT(*), 6) AS avg_dup_frac,
           CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged
    FROM frac GROUP BY source
    """,
)
def q_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-span fraction (the Gopher/Dolma-style
    "fraction of n-grams also found elsewhere" signal): for each document,
    the share of its distinct {NGRAM_W}-word shingles that occur in >= 2
    documents; rolled up per source with a >{DUP_FLAG_FRAC} flag count.
    Complements q_dedup_* (which find WHICH docs are near-dups) with a
    corpus-health measure of HOW duplicated each source is.

    Determinism: per-doc fraction is a single division of two BIGINTs
    (bit-identical), rounded to 8 decimals and DECIMAL-summed across docs
    — exact addition, order-free (q_char_entropy pattern).

    Scale: the inverted-index pattern (q_dedup_ngram) — ONE corpus
    explode, one exchange on the shingle key, document frequency via a
    window over that key (the groupBy + join-back formulation explodes
    and shuffles the corpus twice). Text moves at most once, through the
    conditional volume-neutral pre-explode spread (no-op on multi-file
    lakes). No pairwise doc x doc blowup anywhere: duplication is
    measured per shingle, not per pair; a hot boilerplate shingle makes
    one big window partition — cap or drop shingles above a
    document-frequency ceiling at scale, same as q_containment."""
    docs = spread_for_fanout(load_table(spark, sf_dir, "documents"))
    # r13 (guide §2.3): shingle strings die scan-side into xxhash64 longs —
    # the document-frequency Exchange + window sort key is 8 bytes, not a
    # ~30-byte 5-gram string (per-doc/per-source counts are collision-
    # free-identical to the string-keyed oracle; verified at 3 SFs)
    shx = docs.select(
        "doc_id", "source", F.split("text", " ").alias("_toks")
    ).select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(window_hashes(F.col("_toks"), NGRAM_W))
        ).alias("sh"),
    )
    # document frequency via a window over the shingle key instead of a
    # groupBy + join-back: ONE corpus explode and one exchange (the join
    # formulation explodes the corpus twice — Spark re-executes the shared
    # subplan for each consumer — and shuffles it twice). Same skew
    # exposure as the join (both key on the shingle); the hot-shingle cap
    # note below applies identically. (r14 measured the sort-free
    # alternative — per-doc n_dup = n_sh minus the doc's globally-unique
    # shingles via a map-side-combinable groupBy(sh) — and it LOST ~15%
    # at sf0.1: it tokenizes/hashes the corpus twice, and at this scale
    # the shingle window's sort is cheaper than the second n-gram pass.
    # The groupBy shape remains the right escape hatch at 100 TB if hot
    # boilerplate shingles ever serialize the window's sort task.)
    w = Window.partitionBy("sh")
    flagged = shx.select(
        "doc_id", "source", (F.count("*").over(w) >= 2).alias("is_dup")
    )
    per_doc = flagged.groupBy("doc_id", "source").agg(
        F.count("*").alias("n_sh"),
        F.sum(F.col("is_dup").cast("int")).alias("n_dup"),
    )
    ratio = F.col("n_dup").cast("double") / F.col("n_sh")
    frac = per_doc.select(
        "source",
        F.round(ratio, 8).cast("decimal(12,8)").alias("f"),
        (ratio > DUP_FLAG_FRAC).alias("flagged"),
    )
    return frac.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.sum("f").cast("double") / F.count("*"), 6).alias("avg_dup_frac"),
        F.sum(F.when(F.col("flagged"), 1).otherwise(0))
        .cast("long")
        .alias("n_flagged"),
    )


@query(
    "q_perplexity_buckets",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    vocab AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
    tot AS (SELECT SUM(cnt) AS n_total FROM vocab),
    per_doc AS (
        SELECT t.doc_id,
               round(AVG(ln(CAST(v.cnt AS DOUBLE) / tot.n_total)), 6)
                   AS avg_logprob
        FROM tok t JOIN vocab v USING (token) CROSS JOIN tot
        GROUP BY t.doc_id
    ),
    cuts AS (
        SELECT quantile_cont(avg_logprob, 0.33) AS c_tail,
               quantile_cont(avg_logprob, 0.67) AS c_mid
        FROM per_doc
    ),
    bucketed AS (
        SELECT d.doc_id, p.avg_logprob,
               CASE WHEN p.avg_logprob <= cuts.c_tail THEN 'tail'
                    WHEN p.avg_logprob <= cuts.c_mid THEN 'middle'
                    ELSE 'head' END AS bucket,
               d.source
        FROM per_doc p
        JOIN documents d USING (doc_id)
        CROSS JOIN cuts
    )
    SELECT source, bucket, COUNT(*) AS n_docs,
           MIN(avg_logprob) AS min_lp, MAX(avg_logprob) AS max_lp
    FROM bucketed GROUP BY source, bucket
    """,
)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: score each doc with the corpus
    unigram LM (q_unigram_lm's proxy), cut the score distribution into
    head/middle/tail at the 33rd/67th percentiles, and count docs per
    (source, bucket) — the standard quality-tiering step before sampling
    training data by tier.

    Determinism: per-doc scores are rounded to 6 decimals BEFORE the
    percentile, so both engines interpolate cutoffs from identical
    doubles with the identical quantile_cont formula; bucket boundaries
    compare those same doubles.

    Scale: vocab is Zipf-sublinear and joins back onto the token stream
    hint-free (AQE broadcasts while it fits); the percentile runs over the per-DOC
    score table (1 row per doc, not per token). Exact percentile at this
    profile; swap to approx_percentile's t-digest at 100 TB — the bucket
    edges move within sketch error, the tiers don't change meaning."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    vocab = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    tot = vocab.agg(F.sum("cnt").alias("n_total"))
    per_doc = (
        tok.join(vocab, "token")  # vocab unbounded: AQE decides, no hint
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(F.log(F.col("cnt").cast("double") / F.col("n_total"))), 6
            ).alias("avg_logprob")
        )
    )
    cuts = per_doc.agg(
        F.percentile("avg_logprob", 0.33).alias("c_tail"),
        F.percentile("avg_logprob", 0.67).alias("c_mid"),
    )
    bucketed = (
        per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .crossJoin(F.broadcast(cuts))
        .select(
            "source",
            "avg_logprob",
            F.when(F.col("avg_logprob") <= F.col("c_tail"), "tail")
            .when(F.col("avg_logprob") <= F.col("c_mid"), "middle")
            .otherwise("head")
            .alias("bucket"),
        )
    )
    return bucketed.groupBy("source", "bucket").agg(
        F.count("*").alias("n_docs"),
        F.min("avg_logprob").alias("min_lp"),
        F.max("avg_logprob").alias("max_lp"),
    )


@query(
    "q_split_leakage",
    oracle=f"""
    WITH tagged AS (
        SELECT md5(text) AS h,
               CASE WHEN {hash60_sql("'split:' || CAST(doc_id AS VARCHAR)")}
                         % 100 < {SPLIT_TRAIN_PCT}
                    THEN 'train' ELSE 'heldout' END AS split
        FROM documents
    ),
    grouped AS (
        SELECT h,
               COUNT(*) AS n_docs,
               COUNT(DISTINCT split) AS n_splits
        FROM tagged GROUP BY h
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_contents,
           CAST(COUNT(CASE WHEN n_splits > 1 THEN 1 END) AS BIGINT)
               AS n_leaky,
           CAST(SUM(CASE WHEN n_splits > 1 THEN n_docs ELSE 0 END) AS BIGINT)
               AS n_docs_in_leaky
    FROM grouped
    """,
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/heldout split-leakage audit: content hashes that appear on
    BOTH sides of the q_stratified_split boundary (train vs val+test).
    Identical documents crossing the split silently inflate eval scores —
    this is the release gate a training pipeline runs after splitting and
    BEFORE training (complement of q_contamination, which checks against
    an external benchmark rather than the pipeline's own split).

    Scale: hash + split tag are scan-local; one shuffle of
    (content-hash, split) pairs — text never moves — and the verdict is a
    single row. Same hash-bucket split rule as q_stratified_split, so
    this audits the ACTUAL production assignment, not a reimplementation."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        hash60(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    )
    tagged = docs.select(
        # r13: xxhash64 over md5 — grouping-only content key (§2.3)
        F.xxhash64("text").alias("h"),
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .otherwise("heldout")
        .alias("split"),
    )
    grouped = tagged.groupBy("h").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("split").alias("n_splits"),
    )
    leaky = F.col("n_splits") > 1
    return grouped.agg(
        F.count("*").cast("long").alias("n_contents"),
        F.count(F.when(leaky, 1)).cast("long").alias("n_leaky"),
        F.sum(F.when(leaky, F.col("n_docs")).otherwise(0))
        .cast("long")
        .alias("n_docs_in_leaky"),
    )


_GRAMS5_SQL = """
        list_transform(
            range(1, greatest(len(string_split(text, ' ')) - 3, 2)),
            i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')
        )
"""


@query(
    "q_ngram_novelty",
    oracle=f"""
    WITH grams AS (
        SELECT DISTINCT source,
               {hash60_sql('unnest(' + _GRAMS5_SQL + ')')} AS g
        FROM documents
    ),
    spread AS (
        SELECT g, COUNT(*) AS n_sources FROM grams GROUP BY g
    )
    SELECT gr.source,
           COUNT(*) AS n_grams,
           CAST(COUNT(CASE WHEN sp.n_sources = 1 THEN 1 END) AS BIGINT)
               AS n_exclusive,
           round(CAST(COUNT(CASE WHEN sp.n_sources = 1 THEN 1 END) AS DOUBLE)
                 / COUNT(*), 6) AS novelty
    FROM grams gr JOIN spread sp ON gr.g = sp.g
    GROUP BY gr.source
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source 5-gram novelty: the fraction of a source's distinct
    5-gram hashes found in NO other source — the data-mixing signal for
    "what does this source add that the rest of the corpus lacks"
    (high novelty earns a source its sampling weight; near-zero novelty
    means it is re-serving the others' content).

    Scale: grams hash scan-side and only (source, hash60) pairs shuffle
    (map-side DISTINCT collapses within-source repeats first). The spread
    count is a count-over-window keyed on the gram hash — an inverted-index
    plan like q_dup_span_fraction, never doc x doc, and the corpus is
    scanned/shingled exactly once."""
    docs = load_table(spark, sf_dir, "documents")
    # r13 (guide §1.2): pre-split text ONCE into a bound array — the old
    # inline expr re-split the doc per gram position inside the lambda —
    # and key on xxhash64 instead of md5-derived hash60 (the gram hash is
    # internal: outputs are per-source counts, collision-free-identical)
    grams = (
        docs.select("source", F.split("text", " ").alias("_toks"))
        .select(
            "source", F.explode(window_hashes(F.col("_toks"), 5)).alias("g")
        )
        .distinct()
    )
    # count-over-window instead of a spread-table self-join: the corpus is
    # scanned and shingled ONCE; the per-gram source count is a second slim
    # shuffle of (source, g) pairs only (a join formulation would re-scan
    # and re-hash the full corpus for the other branch — 2x scan at 100 TB)
    spread_w = Window.partitionBy("g")
    tagged = grams.select(
        "source", F.count("*").over(spread_w).alias("n_sources")
    )
    excl = F.when(F.col("n_sources") == 1, 1)
    return tagged.groupBy("source").agg(
        F.count("*").alias("n_grams"),
        F.count(excl).cast("long").alias("n_exclusive"),
        F.round(F.count(excl).cast("double") / F.count("*"), 6).alias(
            "novelty"
        ),
    )


@query(
    "q_quality_ensemble",
    oracle="""
    WITH sig AS (
        SELECT source,
               len(string_split(text, ' ')) AS n_tok,
               len(list_distinct(string_split(text, ' '))) AS n_uniq,
               len(list_filter(string_split(text, ' '),
                   t -> t IN ('the', 'a', 'of', 'and'))) AS n_stop,
               n_chars
        FROM documents
    ),
    scored AS (
        SELECT source,
               CASE WHEN n_tok BETWEEN 30 AND 500 THEN 4 ELSE 0 END
             + CASE WHEN n_stop * 50 >= n_tok THEN 2 ELSE 0 END
             + CASE WHEN n_uniq * 10 >= n_tok * 3 THEN 2 ELSE 0 END
             + CASE WHEN 3 * n_tok <= n_chars AND n_chars <= 12 * n_tok
                    THEN 2 ELSE 0 END AS pts,
               CASE WHEN n_tok BETWEEN 30 AND 500 THEN 0 ELSE 1 END AS f_len,
               CASE WHEN n_stop * 50 >= n_tok THEN 0 ELSE 1 END AS f_stop,
               CASE WHEN n_uniq * 10 >= n_tok * 3 THEN 0 ELSE 1 END AS f_ttr,
               CASE WHEN 3 * n_tok <= n_chars AND n_chars <= 12 * n_tok
                    THEN 0 ELSE 1 END AS f_toklen
        FROM sig
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(COUNT(CASE WHEN pts >= 6 THEN 1 END) AS BIGINT) AS n_keep,
           round(CAST(COUNT(CASE WHEN pts >= 6 THEN 1 END) AS DOUBLE)
                 / COUNT(*), 6) AS keep_rate,
           CAST(SUM(f_len) AS BIGINT) AS n_fail_len,
           CAST(SUM(f_stop) AS BIGINT) AS n_fail_stop,
           CAST(SUM(f_ttr) AS BIGINT) AS n_fail_ttr,
           CAST(SUM(f_toklen) AS BIGINT) AS n_fail_toklen
    FROM scored GROUP BY source
    """,
)
def q_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted quality-filter ensemble with per-signal failure accounting:
    length band (weight 4), stopword floor (2), type-token-ratio floor (2),
    mean-token-length band (2); keep = score >= 6 of 10. This is the
    composed keep/drop gate a pre-training pipeline actually ships (the
    single-signal operators q_quality_score / q_type_token_ratio /
    q_repetition_score are its components), and the per-source failure
    columns say WHY a source loses documents — the tuning feedback loop.

    Determinism: every predicate is an integer cross-multiplication
    (n_stop*50 >= n_tok is the 2% floor; n_uniq*10 >= n_tok*3 the 0.3
    TTR floor) — no float thresholds anywhere, so keep decisions are
    bit-stable across engines and partitionings.

    Scale: all signals are in-row array folds computed scan-side; one
    map-side-combinable shuffle to |sources| rows. Text never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    n_stop = F.size(F.filter(toks, lambda t: t.isin("the", "a", "of", "and")))
    ok_len = n_tok.between(30, 500)
    ok_stop = n_stop * 50 >= n_tok
    ok_ttr = n_uniq * 10 >= n_tok * 3
    ok_toklen = (3 * n_tok <= F.col("n_chars")) & (
        F.col("n_chars") <= 12 * n_tok
    )
    pts = (
        F.when(ok_len, 4).otherwise(0)
        + F.when(ok_stop, 2).otherwise(0)
        + F.when(ok_ttr, 2).otherwise(0)
        + F.when(ok_toklen, 2).otherwise(0)
    )
    flag = lambda ok: F.when(ok, 0).otherwise(1)  # noqa: E731
    scored = docs.select(
        "source",
        pts.alias("pts"),
        flag(ok_len).alias("f_len"),
        flag(ok_stop).alias("f_stop"),
        flag(ok_ttr).alias("f_ttr"),
        flag(ok_toklen).alias("f_toklen"),
    )
    keep = F.when(F.col("pts") >= 6, 1)
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count(keep).cast("long").alias("n_keep"),
        F.round(F.count(keep).cast("double") / F.count("*"), 6).alias(
            "keep_rate"
        ),
        F.sum("f_len").cast("long").alias("n_fail_len"),
        F.sum("f_stop").cast("long").alias("n_fail_stop"),
        F.sum("f_ttr").cast("long").alias("n_fail_ttr"),
        F.sum("f_toklen").cast("long").alias("n_fail_toklen"),
    )


SPAN_W = 16  # span-dedup chunk width (whitespace tokens, non-overlapping)
SPAN_PACK = 1_000_000  # packed order key: doc_id * SPAN_PACK + chunk_idx


@query(
    "q_span_dedup_rewrite",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents
    ),
    chunks AS (
        SELECT doc_id, toks,
               CAST((n + {SPAN_W - 1}) // {SPAN_W} AS INT) AS n_chunks,
               unnest(range(0, (n + {SPAN_W - 1}) // {SPAN_W})) AS ci
        FROM t
    ),
    hashed AS (
        SELECT doc_id, CAST(ci AS INT) AS ci, n_chunks,
               array_to_string(toks[ci * {SPAN_W} + 1 :
                                    ci * {SPAN_W} + {SPAN_W}], ' ') AS ctext,
               {hash60_sql(f"array_to_string(toks[ci * {SPAN_W} + 1 :"
                           f" ci * {SPAN_W} + {SPAN_W}], ' ')")} AS h,
               doc_id * {SPAN_PACK} + ci AS packed
        FROM chunks
    ),
    winners AS (SELECT h, MIN(packed) AS mp FROM hashed GROUP BY h)
    SELECT hh.doc_id,
           string_agg(hh.ctext, ' ' ORDER BY hh.ci) AS clean_text,
           CAST(COUNT(*) AS INT) AS n_kept,
           CAST(ANY_VALUE(hh.n_chunks) - COUNT(*) AS INT) AS n_dropped
    FROM hashed hh
    JOIN winners w ON w.h = hh.h AND hh.packed = w.mp
    GROUP BY hh.doc_id
    """,
)
def q_span_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level dedup REWRITE (RefinedWeb/Dolma-style paragraph dedup
    adapted to this corpus's single-line texts): split each document into
    non-overlapping {SPAN_W}-token spans, keep only the globally FIRST
    occurrence of each distinct span (order = (doc_id, chunk_idx) packed
    into one BIGINT), and reassemble each document from its surviving
    spans in order. Unlike q_dup_span_fraction (which *measures*
    duplication), this is the *apply* step that emits the cleaned corpus:
    (doc_id, clean_text, n_kept, n_dropped). Documents whose every span
    appeared earlier elsewhere vanish entirely.

    Scale (100 TB): document text NEVER shuffles. Stage 1 extracts
    (span-hash, packed-order) pairs scan-side and aggregates MIN(packed)
    per hash — two ints per span. Stage 2 re-derives spans scan-side,
    joins the winner set on the hash, and reduces to per-doc kept
    chunk-index lists — small ints only. Stage 3 joins those lists back
    to the documents scan on doc_id and rebuilds the text IN-ROW (sorted
    slice + flatten + join inside codegen). The only shuffled payloads
    are hashes, packed keys, and int lists; reassembly is a doc_id equi-
    join against the original scan."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(SPAN_W)).cast("int")
    chunked = docs.select(
        "doc_id",
        toks.alias("toks"),
        n_chunks.alias("n_chunks"),
        F.explode(F.sequence(F.lit(0), n_chunks - F.lit(1))).alias("ci"),
    )
    span = F.slice(F.col("toks"), F.col("ci") * SPAN_W + 1, SPAN_W)
    # r13: the span hash only GROUPS identical spans (winner choice is
    # min(packed), never the hash value), so xxhash64 replaces the
    # md5-derived hash60 — rebuilt text is identical under any
    # collision-free hash (guide §1.2; oracle-verified at 3 SFs)
    hashed = chunked.select(
        "doc_id",
        F.col("ci").cast("int").alias("ci"),
        "n_chunks",
        F.xxhash64(F.array_join(span, " ")).alias("h"),
        (F.col("doc_id") * SPAN_PACK + F.col("ci")).alias("packed"),
    )
    winners = hashed.groupBy("h").agg(F.min("packed").alias("mp"))
    kept = (
        hashed.join(winners, (hashed.h == winners.h) & (hashed.packed == winners.mp))
        .groupBy(hashed.doc_id.alias("kd"))
        .agg(
            F.sort_array(F.collect_list("ci")).alias("kept_ci"),
            F.any_value("n_chunks").alias("n_chunks"),
        )
    )
    rebuilt = docs.join(kept, docs.doc_id == kept.kd).select(
        "doc_id",
        F.array_join(
            F.flatten(
                F.transform(
                    F.col("kept_ci"),
                    lambda i: F.slice(
                        F.split(F.col("text"), " "), i * SPAN_W + 1, SPAN_W
                    ),
                )
            ),
            " ",
        ).alias("clean_text"),
        F.size("kept_ci").cast("int").alias("n_kept"),
        (F.col("n_chunks") - F.size("kept_ci")).cast("int").alias("n_dropped"),
    )
    return rebuilt


EXPORT_CHUNK = 64  # export chunk width (non-overlapping; packing is separate)
EXPORT_SHARDS = 8  # export shard fan-out (content-hash bucketed)


@query(
    "q_training_export",
    oracle=f"""
    WITH kept AS (
        SELECT doc_id, text,
               len(string_split(text, ' ')) AS n
        FROM (
            SELECT doc_id, text,
                   ROW_NUMBER() OVER (PARTITION BY md5(text)
                                      ORDER BY doc_id) AS rn
            FROM documents
        ) WHERE rn = 1
    ),
    gated AS (
        SELECT doc_id, string_split(text, ' ') AS toks, n,
               CASE WHEN {hash60_sql("'split:' || CAST(doc_id AS VARCHAR)")}
                         % 100 < {SPLIT_TRAIN_PCT} THEN 'train'
                    WHEN {hash60_sql("'split:' || CAST(doc_id AS VARCHAR)")}
                         % 100 < {SPLIT_VAL_PCT} THEN 'val'
                    ELSE 'test' END AS split
        FROM kept WHERE n BETWEEN 30 AND 300
    ),
    chunks AS (
        SELECT doc_id, split,
               unnest(range(0, (n + {EXPORT_CHUNK - 1}) // {EXPORT_CHUNK}))
                   AS ci, toks
        FROM gated
    ),
    hashed AS (
        SELECT doc_id, split,
               len(toks[ci * {EXPORT_CHUNK} + 1 :
                        ci * {EXPORT_CHUNK} + {EXPORT_CHUNK}]) AS n_ctok,
               {hash60_sql(f"array_to_string(toks[ci * {EXPORT_CHUNK} + 1 :"
                           f" ci * {EXPORT_CHUNK} + {EXPORT_CHUNK}], ' ')")}
                   AS chunk_hash
        FROM chunks
    )
    SELECT split, CAST(chunk_hash % {EXPORT_SHARDS} AS INT) AS shard,
           COUNT(*) AS n_chunks,
           CAST(SUM(n_ctok) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           bit_xor(chunk_hash) AS checksum_xor
    FROM hashed
    GROUP BY split, shard
    """,
)
def q_training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-export manifest: the END of the curation pipeline composed
    into one plan — canonical exact dedup (keep min doc_id per content
    hash) -> length quality gate -> non-overlapping {EXPORT_CHUNK}-token
    chunking -> deterministic doc-level train/val/test split (SAME hash
    rule as q_stratified_split, so the split assignment is consistent
    across the catalog) -> content-hash shard assignment. Emits per
    (split, shard): chunk/token/doc counts plus an order-insensitive
    bit_xor checksum — the manifest a training job validates its shards
    against after export.

    Scale: dedup shuffles (content-hash, doc_id) once; the gate and split
    are scan-local; chunking is in-row explode; shard assignment is a
    hash mod — the final aggregate is map-side combinable down to
    |splits| x {EXPORT_SHARDS} rows. Text itself never shuffles (the window
    carries only hash + id; chunks reduce to hashes scan-side). The real
    export adds .write.partitionBy('split', 'shard') on the chunk frame —
    same plan shape, file sinks instead of the manifest aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    toks = F.split(F.col("text"), " ")
    kept = (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
        .where(F.col("n").between(30, 300))
    )
    bucket = hash60(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    n_chunks = F.ceil(F.col("n") / F.lit(EXPORT_CHUNK)).cast("int")
    chunked = kept.select(
        "doc_id",
        split.alias("split"),
        "toks",
        F.explode(F.sequence(F.lit(0), n_chunks - F.lit(1))).alias("ci"),
    )
    chunk = F.slice(F.col("toks"), F.col("ci") * EXPORT_CHUNK + 1, EXPORT_CHUNK)
    hashed = chunked.select(
        "doc_id",
        "split",
        F.size(chunk).alias("n_ctok"),
        hash60(F.array_join(chunk, " ")).alias("chunk_hash"),
    )
    return (
        hashed.groupBy(
            "split", (F.col("chunk_hash") % EXPORT_SHARDS).cast("int").alias("shard")
        )
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_ctok").cast("long").alias("n_tokens"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.bit_xor("chunk_hash").alias("checksum_xor"),
        )
    )


@query(
    "q_dataset_card",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           round(CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 2)
               AS avg_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           round(1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate,
           round(CAST(COUNT(*) FILTER (WHERE n_chars < 100) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS pct_short
    FROM documents GROUP BY source ORDER BY source
    """,
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card: the per-source summary block (docs, tokens, mean
    length, language spread, duplicate rate, short-doc share) a corpus
    release publishes alongside the data — one composed profiling pass
    over the documents table.

    Scale: one groupBy(source) with exact BIGINT sums; the two distinct
    counts rewrite to per-source partial distincts (Spark expands
    multi-distinct into one Expand + two-phase agg). At 100 TB swap the
    exact distincts for approx_count_distinct and report the sketch
    error in the card; text itself contributes only its md5, computed
    scan-side."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.count("*")
    return (
        docs.groupBy("source")
        .agg(
            n.alias("n_docs"),
            F.sum(F.size(F.split("text", " ")))
            .cast("bigint")
            .alias("n_tokens"),
            F.round(
                F.sum("n_chars").cast("double") / n.cast("double"), 2
            ).alias("avg_chars"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.round(
                F.lit(1.0)
                - F.countDistinct(F.xxhash64("text")).cast("double")
                / n.cast("double"),
                6,
            ).alias("dup_rate"),
            F.round(
                F.count(F.when(F.col("n_chars") < 100, 1)).cast("double")
                / n.cast("double"),
                6,
            ).alias("pct_short"),
        )
        .orderBy("source")
    )


@query(
    "q_script_detect",
    oracle="""
    WITH per_doc AS (
        SELECT lang,
               CAST(len(text) AS BIGINT) AS n,
               CAST(len(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT)
                   AS n_alpha,
               CAST(len(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)
                   AS n_digit,
               CAST(len(regexp_replace(text, '[^ ]', '', 'g')) AS BIGINT)
                   AS n_space
        FROM documents
    )
    SELECT lang, COUNT(*) AS n_docs,
           round(CAST(SUM(n_alpha) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6)
               AS r_alpha,
           round(CAST(SUM(n_digit) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6)
               AS r_digit,
           round(CAST(SUM(n_space) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6)
               AS r_space,
           round(CAST(SUM(n - n_alpha - n_digit - n_space) AS DOUBLE)
                 / CAST(SUM(n) AS DOUBLE), 6) AS r_other
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
)
def q_script_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class (script) profile per language: corpus-level ratios
    of lowercase-alpha / digit / whitespace / other characters — the
    cheap script-detection signal that catches mislabeled languages and
    mojibake before an expensive language-ID model runs (complements
    q_lang_id's n-gram heuristic and q_char_entropy's garbage gate).

    Scale: the four class counts are scan-local regexp strips inside
    codegen; only (lang, 4 BIGINT partials) shuffle, and ratios come from
    exact integer sums with one double division per output row — no
    per-doc float averaging, so summation order cannot drift the hash."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.length("text").cast("bigint")
    n_alpha = F.length(F.regexp_replace("text", "[^a-z]", "")).cast("bigint")
    n_digit = F.length(F.regexp_replace("text", "[^0-9]", "")).cast("bigint")
    n_space = F.length(F.regexp_replace("text", "[^ ]", "")).cast("bigint")
    per_doc = docs.select(
        "lang",
        n.alias("n"),
        n_alpha.alias("n_alpha"),
        n_digit.alias("n_digit"),
        n_space.alias("n_space"),
    )
    sn = F.sum("n").cast("double")
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.sum("n_alpha").cast("double") / sn, 6).alias("r_alpha"),
            F.round(F.sum("n_digit").cast("double") / sn, 6).alias("r_digit"),
            F.round(F.sum("n_space").cast("double") / sn, 6).alias("r_space"),
            F.round(
                F.sum(
                    F.col("n")
                    - F.col("n_alpha")
                    - F.col("n_digit")
                    - F.col("n_space")
                ).cast("double")
                / sn,
                6,
            ).alias("r_other"),
        )
        .orderBy("lang")
    )


@query(
    "q_wordfreq_spectrum",
    oracle="""
    WITH counts AS (
        SELECT tok, COUNT(*) AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY tok
    )
    SELECT CAST(len(bin(c)) - 1 AS INT) AS log2_bucket,
           COUNT(*) AS n_types,
           CAST(MIN(c) AS BIGINT) AS min_c,
           CAST(MAX(c) AS BIGINT) AS max_c
    FROM counts GROUP BY 1 ORDER BY 1
    """,
)
def q_wordfreq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequencies spectrum: how many vocabulary types fall
    in each power-of-two occurrence band — the corpus-growth fingerprint
    (Good-Turing's N_k) that distinguishes a natural Zipf tail from a
    template-stamped corpus (complements q_zipf_fit's head slope).

    Scale: tokens explode scan-side into (token, count) partials; the
    spectrum re-aggregates the |vocab|-row count table — Zipf-sublinear
    in corpus size. The log2 band comes from the BINARY STRING length of
    the exact BIGINT count (floor(log2) without floating log, which can
    land on either side of a power boundary depending on the libm)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    return (
        counts.groupBy(
            (F.length(F.bin("c")) - 1).cast("int").alias("log2_bucket")
        )
        .agg(
            F.count("*").alias("n_types"),
            F.min("c").cast("bigint").alias("min_c"),
            F.max("c").cast("bigint").alias("max_c"),
        )
        .orderBy("log2_bucket")
    )


# --------------------------------------------------------------------------
# corpus snapshot diff: the delta between two
# dataset releases, by document key + content digest
# --------------------------------------------------------------------------

# Deterministic stand-ins for two corpus releases over the one test lake:
# v1 drops doc_id % DIFF_V1_MOD == 0 (those docs are ADDED in v2), v2 drops
# doc_id % DIFF_V2_MOD == 0 (REMOVED since v1), and docs with
# doc_id % DIFF_EDIT_MOD == 0 carry edited text in v2 (CHANGED digest).
DIFF_V1_MOD = 19
DIFF_V2_MOD = 17
DIFF_EDIT_MOD = 7


@query(
    "q_corpus_diff",
    oracle=f"""
    WITH v1 AS (
        SELECT doc_id, source, md5(text) AS h FROM documents
        WHERE doc_id % {DIFF_V1_MOD} <> 0
    ),
    v2 AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % {DIFF_EDIT_MOD} = 0
                    THEN md5(text || ' rev2') ELSE md5(text) END AS h
        FROM documents WHERE doc_id % {DIFF_V2_MOD} <> 0
    ),
    d AS (
        SELECT COALESCE(v1.source, v2.source) AS source,
               CASE WHEN v1.doc_id IS NULL THEN 'added'
                    WHEN v2.doc_id IS NULL THEN 'removed'
                    WHEN v1.h <> v2.h THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    )
    SELECT source, status, COUNT(*) AS n_docs
    FROM d GROUP BY source, status ORDER BY source, status
    """,
)
def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff: docs added / removed / changed / unchanged
    between two dataset releases, keyed by doc_id with change detected by
    content digest — the delta a dataset card cites between versions and
    the input to incremental re-training decisions. The two releases are
    deterministic slices of the test lake (see DIFF_*_MOD).

    Scale: each release contributes one (doc_id, source, digest) row —
    the digest is computed in the scan, so text never shuffles; the full
    outer join is doc_id-keyed narrow rows (at 100 TB both releases are
    doc_id-partitioned lakes, so this is a co-partitioned sort-merge
    join); the rollup is |sources| x 4 rows."""
    docs = load_table(spark, sf_dir, "documents")
    # r13: xxhash64 over md5 — the digests are only compared for EQUALITY
    # (changed/unchanged), never output, so any collision-free hash gives
    # the same statuses and the joined rows carry 8-byte digests (§2.3).
    # r14 (VERDICT r13 #4): the digest widens to (xxhash64, length) — a
    # collision here mislabels a changed doc 'unchanged'. Same-doc
    # digests compare pairwise (n/2^64, not birthday), but length is a
    # free second channel and catches every length-changing edit exactly.
    v1 = docs.where(F.col("doc_id") % DIFF_V1_MOD != 0).select(
        F.col("doc_id").alias("v1_id"),
        F.col("source").alias("v1_source"),
        F.xxhash64("text").alias("v1_h"),
        F.length("text").alias("v1_l"),
    )
    v2_text = F.when(
        F.col("doc_id") % DIFF_EDIT_MOD == 0,
        F.concat(F.col("text"), F.lit(" rev2")),
    ).otherwise(F.col("text"))
    v2 = docs.where(F.col("doc_id") % DIFF_V2_MOD != 0).select(
        F.col("doc_id").alias("v2_id"),
        F.col("source").alias("v2_source"),
        F.xxhash64(v2_text).alias("v2_h"),
        F.length(v2_text).alias("v2_l"),
    )
    status = (
        F.when(F.col("v1_id").isNull(), "added")
        .when(F.col("v2_id").isNull(), "removed")
        .when(
            (F.col("v1_h") != F.col("v2_h"))
            | (F.col("v1_l") != F.col("v2_l")),
            "changed",
        )
        .otherwise("unchanged")
    )
    d = v1.join(v2, F.col("v1_id") == F.col("v2_id"), "full_outer").select(
        F.coalesce("v1_source", "v2_source").alias("source"),
        status.alias("status"),
    )
    return (
        d.groupBy("source", "status")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source", "status")
    )
