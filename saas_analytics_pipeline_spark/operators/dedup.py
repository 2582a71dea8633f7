"""Document deduplication: exact, MinHash-LSH, n-gram Jaccard, SimHash.

North-star extensions (BASELINE.json): training-data dedup over the
`documents` table. All hashing goes through the engine-portable
hash60 (md5-prefix) so the DuckDB oracle replays signatures bit-for-bit.

Scale notes (100 TB):
- exact dedup: hash-groupBy on a 60-bit content hash — one shuffle of
  (hash, id), never of the text payload.
- MinHash: signatures are computed scan-side (explode shingles -> min per
  permutation is a partial-aggregable min). LSH banding turns all-pairs
  O(n^2) into per-bucket candidate generation; only candidates get the exact
  Jaccard verification. Band width / row count trade recall vs candidates.
- per-permutation hashing is one hash60(shingle) XOR'd with fixed salts
  (PERM_SALTS) — one md5 per shingle total, no modmul overflow, and it
  stays oracle-replayable via DuckDB's xor().
- SimHash: 16-bit per-token-bit majority — explode(token) x bit is shuffled
  as (doc, bit) partial sums; at scale compute the 16 partial sums in one
  aggregation pass with conditional sums instead (same plan here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from saas_analytics_pipeline_spark.functions import hash60, hash60_sql, window_hashes
from saas_analytics_pipeline_spark.qcatalog import query
from saas_analytics_pipeline_spark.sources import load_table, spread_for_fanout

N_PERM = 16  # minhash permutations
N_BANDS = 4  # LSH bands (4 rows per band)
SHINGLE_W = 3  # word-shingle width


def shingles(col: str = "text") -> F.Column:
    """Word 3-gram shingles as an array column (JVM-side, no UDF)."""
    return F.expr(
        f"""
        transform(
            sequence(1, greatest(size(split({col}, ' ')) - {SHINGLE_W - 1}, 1)),
            i -> concat_ws(' ', slice(split({col}, ' '), i, {SHINGLE_W}))
        )
        """
    )


def shingles_arr(toks: F.Column, w: int = SHINGLE_W) -> F.Column:
    """shingles() over a PRE-SPLIT tokens array column. Catalyst does not
    hoist common subexpressions out of higher-order-function lambdas, so
    the inline form re-splits the text once per shingle position — an
    O(tokens) blowup per doc measured 2.7x at sf0.1 (r13, guide §1.2)."""
    return F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.size(toks) - F.lit(w - 1), F.lit(1))
        ),
        lambda i: F.concat_ws(" ", F.slice(toks, i, w)),
    )


SHINGLES_SQL = f"""
        list_transform(
            range(1, greatest(len(string_split(text, ' ')) - {SHINGLE_W - 2}, 2)),
            i -> array_to_string(string_split(text, ' ')[i:i+{SHINGLE_W - 1}], ' ')
        )
"""


# Per-permutation XOR salts: permutation j is h -> h XOR salt_j over the
# base 60-bit shingle hash. One md5 per shingle total (vs one per shingle
# PER PERMUTATION with hash60(j||shingle)) — a 16x scan-side compute cut,
# and the min-agg needs no permutation explode. Salts are hash60(str(j)),
# precomputed so the DuckDB oracle can embed them as literals.
#
# Bias note: XOR salts over ONE base hash are NOT an approximately min-wise
# independent family — the 16 signature components are correlated, so the
# Jaccard estimator carries more error/bias than true independent
# permutations (a_j*h+b_j mod p universal hashing). Accepted deliberately
# for the 16x compute cut; q_sketch_error measures the REALIZED estimator
# error against exact Jaccard on a validation slice, which is the guard
# that matters — switch to per-permutation universal hashing if recall at
# the 0.7 threshold ever degrades there.
import hashlib as _hashlib

PERM_SALTS: list[int] = [
    int(_hashlib.md5(str(j).encode()).hexdigest()[:15], 16)
    for j in range(N_PERM)
]


def _mins_sql() -> str:
    """The per-permutation MIN(xor(h, salt_j)) select list — the ONE
    definition of the signature layout every DuckDB oracle replays
    (q_dedup_minhash, q_dedup_clusters, q_sketch_error, q_lsh_bucket_skew).
    Keeping it single-sourced means a banding/N_PERM change cannot
    desynchronize one oracle from the shared minhash_signatures path."""
    return ",\n               ".join(
        f"MIN(xor(h, {PERM_SALTS[j]})) AS mh{j}" for j in range(N_PERM)
    )


def _band_union_sql(n_bands: int, with_doc_id: bool) -> str:
    """UNION ALL of per-band md5 bucket keys over `sig` — the SQL twin of
    band_key() for the narrow candidate banding (rows = N_PERM/n_bands)."""
    rows = N_PERM // n_bands
    doc = "doc_id, " if with_doc_id else ""
    return "\n        UNION ALL ".join(
        f"SELECT {doc}{b} AS band, md5(concat_ws(',', "
        + ", ".join(f"mh{j}" for j in range(b * rows, b * rows + rows))
        + ")) AS bucket FROM sig"
        for b in range(n_bands)
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """Wide signatures: (doc_id, mh0..mh{N_PERM-1}) where
    mh_j = min over shingles of (hash60(shingle) XOR salt_j).

    Scale: the only KEY shuffle is the groupBy(doc_id) of (doc_id, h)
    pairs and every min is partial-aggregable map-side; text moves at most
    once, through the conditional volume-neutral pre-explode spread
    (a no-op on multi-file lakes; sources.spread_for_fanout)."""
    hashed = spread_for_fanout(docs).select(
        "doc_id", F.split("text", " ").alias("_toks")
    ).select(
        "doc_id", F.explode(shingles_arr(F.col("_toks"))).alias("shingle")
    ).select("doc_id", hash60("shingle").alias("h"))
    return hashed.groupBy("doc_id").agg(
        *[
            F.min(F.col("h").bitwiseXOR(F.lit(PERM_SALTS[j]))).alias(f"mh{j}")
            for j in range(N_PERM)
        ]
    )


def band_key(b: int, n_bands: int = N_BANDS) -> F.Column:
    """LSH band key: md5 over the band's signature slice."""
    rows = N_PERM // n_bands
    cols = [F.col(f"mh{j}") for j in range(b * rows, b * rows + rows)]
    return F.md5(F.concat_ws(",", *cols))


@query(
    "q_dedup_exact",
    oracle="""
    WITH hashed AS (SELECT doc_id, md5(text) AS h, source FROM documents)
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT h) AS n_unique,
           COUNT(*) - COUNT(DISTINCT h) AS n_dupes
    FROM hashed GROUP BY source
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content hash (hash-groupBy; the id/hash pair is all
    that shuffles — at 100 TB the text never moves)."""
    docs = load_table(spark, sf_dir, "documents")
    # r13: xxhash64 over md5 — the hash only feeds countDistinct (never
    # output), so any collision-free hash gives identical counts, and the
    # distinct-aggregate state narrows from 32-char hex to 8 bytes (§2.3)
    return docs.select("source", F.xxhash64("text").alias("h")).groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("h").alias("n_unique"),
        (F.count("*") - F.countDistinct("h")).alias("n_dupes"),
    )


def _minhash_oracle() -> str:
    mins = _mins_sql()
    bands = ",\n           ".join(
        "md5(concat_ws(',', "
        + ", ".join(f"mh{j}" for j in range(b * 4, b * 4 + 4))
        + f")) AS band{b}"
        for b in range(N_BANDS)
    )
    return f"""
    WITH sh AS (
        SELECT doc_id, unnest({SHINGLES_SQL}) AS shingle
        FROM documents WHERE doc_id % 10 = 0
    ),
    hashed AS (
        SELECT doc_id, {hash60_sql('shingle')} AS h FROM sh
    ),
    sig AS (
        SELECT doc_id,
               {mins}
        FROM hashed GROUP BY doc_id
    )
    SELECT doc_id,
           {bands}
    FROM sig
    """


@query("q_dedup_minhash", oracle=_minhash_oracle())
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures + LSH band keys per document (subset doc_id%10=0
    to bound oracle cost). Near-dup candidates are docs sharing any band key
    — see near_dup_pairs() for the full candidate->verify pipeline."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    sig = minhash_signatures(docs)
    return sig.select(
        "doc_id", *[band_key(b).alias(f"band{b}") for b in range(N_BANDS)]
    )


def lsh_band_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) rows for the candidate banding. NARROW
    bands (2 rows x N_PERM//2 bands): the LSH S-curve threshold
    (1/b)^(1/r) ~= 0.35, i.e. high recall well below the verify
    threshold — precision is restored by the exact-Jaccard verify, so
    the banding only has to not MISS true pairs. The single definition
    of the production banding — near_dup_pairs, the bucket-skew audit,
    and tools/lsh_probe.py all consume THIS, so a band-layout change
    cannot drift between the pipeline and its gauges."""
    n_bands = N_PERM // 2
    sig = minhash_signatures(docs)
    return sig.select(
        "doc_id",
        F.posexplode(
            F.array(*[band_key(b, n_bands) for b in range(n_bands)])
        ).alias("band", "bucket"),
    )


def row_band_buckets(docs: DataFrame, *carry: str) -> DataFrame:
    """(doc_id, *carry, band, bucket) computed PER ROW with higher-order
    functions — no groupBy, no shuffle. The STREAMING twin of
    lsh_band_buckets: same shingles, salts, and narrow band layout, so the
    buckets are bit-identical (pinned by tests/test_dedup.py). Batch code
    keeps the groupBy path (explode spreads text fan-out across the
    cluster); a stream must band each arriving row scan-side, because a
    pre-aggregation in front of the keyed state store would be a second
    stateful operator.

    Scale: one md5 per shingle (the `hs` projection materializes the
    hashed-shingle array once; the 16 per-permutation mins re-read it),
    then N_PERM array_mins — all inside the scan projection."""
    n_bands = N_PERM // 2

    def _perm_min(salt: int) -> F.Column:
        # outer closure: HOF lambdas receive ONLY Column params, so the
        # salt must bind outside the lambda signature
        return F.array_min(
            F.transform("_hs", lambda h: h.bitwiseXOR(F.lit(salt)))
        )

    hs = docs.withColumn("_toks", F.split("text", " ")).withColumn(
        "_hs", F.transform(shingles_arr(F.col("_toks")), hash60)
    )
    sig = hs.select(
        "doc_id",
        *carry,
        *[_perm_min(PERM_SALTS[j]).alias(f"mh{j}") for j in range(N_PERM)],
    )
    return sig.select(
        "doc_id",
        *carry,
        F.posexplode(
            F.array(*[band_key(b, n_bands) for b in range(n_bands)])
        ).alias("band", "bucket"),
    )


def lsh_candidate_pairs(docs: DataFrame) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing >= 1 LSH band bucket —
    the ONLY pair source in the near-dup family (never all-pairs)."""
    bands = lsh_band_buckets(docs)
    return (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "bucket"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b")
        )
        .distinct()
    )


def exact_jaccard(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate pairs: (a, b) pairs + (doc_id, s)
    DISTINCT shingle rows -> (a, b, jaccard). The verify step shared by
    the batch (near_dup_pairs) and incremental (q_dedup_lsh_incremental)
    near-dup paths — intersections join shingle sets for candidate pairs
    only, never all-pairs."""
    inter = (
        cand.join(sh.alias("sa"), F.col("a") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("b") == F.col("sb.doc_id")) & (F.col("sa.s") == F.col("sb.s")),
        )
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    return (
        inter.join(sizes.alias("za"), F.col("a") == F.col("za.doc_id"))
        .join(sizes.alias("zb"), F.col("b") == F.col("zb.doc_id"))
        .select(
            "a",
            "b",
            (
                F.col("n_inter").cast("double")
                / (F.col("za.n_sh") + F.col("zb.n_sh") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


def pairwise_jaccard(cand: DataFrame, docs: DataFrame) -> DataFrame:
    """Exact Jaccard for candidate pairs via per-doc shingle ARRAYS:
    re-read text ONLY for docs in some pair (left-semi prune == a
    doc_id-pruned scan against the corpus lake), build each candidate
    doc's distinct-shingle array once, join it to the pair's two sides,
    and compute the intersection per pair in the JVM (array_intersect).

    Same values as exact_jaccard (pinned bit-identical in
    tests/test_operators.py) with a different cost shape: no shingle-ROW
    pair shuffle, and the candidate subplan is consumed 3x total
    (pair join + two set joins) instead of exact_jaccard's 4 sh-side
    consumptions — which matters when `cand` is itself an expensive
    lineage (the incremental path recomputed its banding joins ~12x
    through exact_jaccard). exact_jaccard remains the right shape when
    the shingle rows are already materialized (near_dup_pairs)."""
    # no .distinct() on the id list: left-semi dedups the probe side
    # inherently, so distinct would only add an exchange
    cand_docs = cand.select(F.col("a").alias("doc_id")).unionByName(
        cand.select(F.col("b").alias("doc_id"))
    )
    # spread BEFORE the shingle projection: the O(tokens) slice+hash per
    # shingle position is the expensive part, and a few parquet input
    # splits would otherwise serialize it on a handful of cores (the
    # scan-parallelism ceiling measured in docs/SCALE.md — 10x at sf3)
    # r13 (guide §2.3): shingle STRINGS die scan-side into 8-byte
    # xxhash64 values — the set arrays that flow through the two pair
    # joins carry longs, not ~20-byte strings, and array_intersect
    # compares longs. Collision-free in practice, so |A∩B|/|A|/|B| and
    # the jaccard are unchanged (pinned vs exact_jaccard in tests).
    sets = spread_for_fanout(
        docs.join(cand_docs, "doc_id", "left_semi")
    ).select("doc_id", F.split("text", " ").alias("_toks")).select(
        "doc_id",
        F.array_distinct(window_hashes(F.col("_toks"), SHINGLE_W)).alias("ss"),
    )
    paired = (
        cand.join(sets.alias("sa"), F.col("a") == F.col("sa.doc_id"))
        .join(sets.alias("sb"), F.col("b") == F.col("sb.doc_id"))
        .select(
            "a",
            "b",
            F.size(F.array_intersect(F.col("sa.ss"), F.col("sb.ss"))).alias(
                "n_inter"
            ),
            F.size(F.col("sa.ss")).alias("n_a"),
            F.size(F.col("sb.ss")).alias("n_b"),
        )
    )
    return paired.select(
        "a",
        "b",
        (
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        ).alias("jaccard"),
    )


def near_dup_pairs(docs: DataFrame, jaccard_threshold: float = 0.7) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures -> band buckets ->
    candidate pairs -> exact Jaccard verify. Returns (a, b, jaccard).

    This is the 100 TB path: candidates come only from shared LSH buckets
    (groupBy band key), and the exact verification joins shingle sets for
    candidate pairs only."""
    cand = lsh_candidate_pairs(docs)
    # r13 (guide §2.3): shingle strings hash to longs scan-side, so
    # exact_jaccard's four consumptions of sh shuffle 8-byte keys
    # instead of raw shingle text (counts are collision-free-identical)
    sh = docs.select("doc_id", F.split("text", " ").alias("_toks")).select(
        "doc_id",
        F.explode(
            F.array_distinct(window_hashes(F.col("_toks"), SHINGLE_W))
        ).alias("s"),
    )
    return exact_jaccard(cand, sh).where(F.col("jaccard") >= jaccard_threshold)


@query(
    "q_dedup_ngram",
    oracle=f"""
    WITH subset AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
    sh AS (
        SELECT DISTINCT doc_id, unnest({SHINGLES_SQL}) AS s FROM subset
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT i.a, i.b,
           CAST(i.n_inter AS DOUBLE)
               / (za.n_sh + zb.n_sh - i.n_inter) AS jaccard
    FROM inter i
    JOIN sizes za ON i.a = za.doc_id
    JOIN sizes zb ON i.b = zb.doc_id
    WHERE CAST(i.n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_inter) >= 0.01
    """,
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise n-gram Jaccard via shingle inverted index (subset
    doc_id%50=0). The inverted-index join IS the scalable form of pairwise
    similarity — pairs only materialize for docs sharing a shingle."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 50 == 0)
    # r13 (guide §2.3): the inverted-index self-join keys on the shingle —
    # hashing to xxhash64 scan-side shuffles/joins 8-byte longs instead of
    # raw shingle strings (intersection counts collision-free-identical)
    sh = docs.select("doc_id", F.split("text", " ").alias("_toks")).select(
        "doc_id",
        F.explode(
            F.array_distinct(window_hashes(F.col("_toks"), SHINGLE_W))
        ).alias("s"),
    ).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    inter = (
        sh.alias("x")
        .join(sh.alias("y"), "s")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .agg(F.count("*").alias("n_inter"))
    )
    jac = (
        F.col("n_inter").cast("double")
        / (F.col("za.n_sh") + F.col("zb.n_sh") - F.col("n_inter"))
    )
    return (
        inter.join(sizes.alias("za"), F.col("a") == F.col("za.doc_id"))
        .join(sizes.alias("zb"), F.col("b") == F.col("zb.doc_id"))
        .select("a", "b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= 0.01)
    )


@query(
    "q_dedup_simhash",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE doc_id % 10 = 0
    ),
    bits AS (
        SELECT doc_id, b.b AS b,
               SUM(CASE WHEN ({hash60_sql("tok")} >> b.b) & 1 = 1
                        THEN 1 ELSE -1 END) AS w
        FROM toks, (SELECT unnest(range(16)) AS b) AS b
        GROUP BY doc_id, b.b
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN w > 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS simhash16
    FROM bits GROUP BY doc_id
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (subset doc_id%10=0): per-bit majority
    vote over token hash bits. Near-dups = small Hamming distance; with 16
    bits the signature itself is the bucketing key at scale."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    bits = (
        toks.select("doc_id", hash60("tok").alias("h"))
        .select(
            "doc_id", "h", F.explode(F.sequence(F.lit(0), F.lit(15))).alias("b")
        )
        .groupBy("doc_id", "b")
        .agg(
            F.sum(
                F.when(F.expr("(shiftright(h, b) & 1) = 1"), 1).otherwise(-1)
            ).alias("w")
        )
    )
    return bits.groupBy("doc_id").agg(
        F.sum(F.when(F.col("w") > 0, F.expr("shiftleft(1, b)")).otherwise(0))
        .cast("long")
        .alias("simhash16")
    )


CC_MAX_ITERS = 50  # hard cap: a DEEP component past this FAILS LOUDLY
CC_CKPT_EVERY = 4  # legacy cadence knob (labels now checkpoint every round; kept for the deep-component test's depth parameter)


def dedup_clusters(
    pairs: DataFrame,
    max_iter: int = CC_MAX_ITERS,
    strict: bool = True,
) -> tuple[DataFrame, int]:
    """Connected components over near-dup pairs by label propagation:
    every doc converges to the MIN doc_id of its component (the cluster's
    canonical representative). Input: (a, b) undirected pair rows; output:
    ((doc_id, cluster_id) labels, n_iters).

    Convergence CONTRACT (verdict r08 #5 — the q_pagerank_converged
    pattern, graph.py): iterate until a round changes ZERO labels
    (counted — the final verification round is included in ``n_iters``);
    a component deeper than ``max_iter`` raises instead of silently
    returning half-merged clusters (connected components is the dedup
    APPLY step — a silent cap at 100 TB wrongly splits a deep cluster
    and no one notices). The driver collects ONE scalar per round (the
    changed-count); labels localCheckpoint EVERY round (lazily — the
    changed-count action materializes the blocks, so no extra job), and
    the edge frame checkpoints ONCE so the upstream LSH pipeline never
    replays. Per-round truncation, not a cadence: a cadence of K makes
    each round re-execute every join since the last checkpoint
    (~O(K^2) join executions per window — the r09 regression, ADVICE
    r09), while per-round blocks free as the superseded generation's
    plan is garbage-collected (no CacheManager strong refs, unlike
    .cache()).

    The iterative shape Spark handles well: each round is one join + one
    min-agg (all distributed). Rounds needed = component diameter
    (near-dup clusters are shallow — a handful)."""
    edges = (
        pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .unionByName(pairs.select(F.col("b").alias("x"), F.col("a").alias("y")))
        .distinct()
        .localCheckpoint()  # materialize ONCE; rounds never replay LSH
    )
    labels = (
        edges.select(F.col("x").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint()
    )
    n_iters, changed = 0, 1
    while changed > 0 and n_iters < max_iter:
        neighbor_min = (
            edges.join(labels, edges.y == labels.doc_id)
            .groupBy("x")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        new_labels = labels.join(
            neighbor_min, labels.doc_id == neighbor_min.x, "left"
        ).select(
            "doc_id",
            F.least(
                "cluster_id", F.coalesce("nbr_min", F.col("cluster_id"))
            ).alias("cluster_id"),
        )
        n_iters += 1
        new_labels = new_labels.localCheckpoint(eager=False)
        # the ONLY per-round driver action: a 1-row changed-count scalar
        changed = (
            new_labels.withColumnRenamed("cluster_id", "nc")
            .join(labels, "doc_id")
            .where(F.col("nc") != F.col("cluster_id"))
            .count()
        )
        labels = new_labels
    if changed > 0 and strict:
        raise RuntimeError(
            f"dedup_clusters did not converge within {max_iter} rounds "
            f"({changed} labels still changing) — component diameter "
            "exceeds the cap; raise max_iter or pre-contract the graph"
        )
    return labels, n_iters


def _clusters_oracle() -> str:
    """DuckDB twin of q_dedup_clusters: replays the FULL pipeline —
    md5-based minhash signatures, the 8x2 narrow LSH banding, exact-Jaccard
    verification at 0.5 — then replaces the iterative label propagation
    with a recursive-CTE transitive closure (every node's cluster id is the
    MIN doc_id reachable through verified pairs, which is exactly what the
    propagation converges to)."""
    mins = _mins_sql()
    bands = _band_union_sql(N_PERM // 2, with_doc_id=True)
    return f"""
    WITH RECURSIVE sh_raw AS (
        SELECT doc_id, unnest({SHINGLES_SQL}) AS shingle FROM documents
    ),
    sig AS (
        SELECT doc_id,
               {mins}
        FROM (SELECT doc_id, {hash60_sql('shingle')} AS h FROM sh_raw)
        GROUP BY doc_id
    ),
    bands AS (
        {bands}
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM bands x
        JOIN bands y ON x.band = y.band AND x.bucket = y.bucket
                    AND x.doc_id < y.doc_id
    ),
    sh AS (SELECT DISTINCT doc_id, shingle AS s FROM sh_raw),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.a, c.b, COUNT(*) AS n_inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.a
        JOIN sh sb ON sb.doc_id = c.b AND sb.s = sa.s
        GROUP BY c.a, c.b
    ),
    pairs AS (
        SELECT i.a, i.b
        FROM inter i
        JOIN sizes za ON i.a = za.doc_id
        JOIN sizes zb ON i.b = zb.doc_id
        WHERE CAST(i.n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_inter)
              >= 0.5
    ),
    edges AS (
        SELECT a AS x, b AS y FROM pairs
        UNION SELECT b, a FROM pairs
    ),
    reach(x, y) AS (
        SELECT x, y FROM edges
        UNION
        SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
    ),
    clus AS (
        SELECT x AS doc_id, LEAST(x, MIN(y)) AS cluster_id
        FROM reach GROUP BY x
    ),
    csz AS (SELECT cluster_id, COUNT(*) AS sz FROM clus GROUP BY cluster_id)
    SELECT sz, COUNT(*) AS n_clusters FROM csz GROUP BY sz ORDER BY sz
    """


@query("q_dedup_clusters", oracle=_clusters_oracle())
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster summary: LSH candidates -> exact-Jaccard pairs ->
    connected components -> cluster size histogram. The end-to-end
    keep-one-per-cluster dedup a training pipeline runs. The label
    propagation is iterative, but its fixpoint (min doc_id per component)
    is replayable as a recursive-CTE transitive closure — see
    _clusters_oracle."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = near_dup_pairs(docs, jaccard_threshold=0.5)
    clusters, _ = dedup_clusters(pairs)
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("sz"))
    return sizes.groupBy("sz").agg(F.count("*").alias("n_clusters")).orderBy("sz")


def _clusters_converged_oracle() -> str:
    """DuckDB replay of the CONVERGED label propagation: the same
    minhash/LSH/jaccard pipeline as _clusters_oracle, but instead of a
    transitive-closure shortcut, a recursive CTE carries the full label
    vector as a LIST<STRUCT> and applies the IDENTICAL per-round update
    (least of own label and min neighbor label), gating the next round
    on the previous round's changed-count — so DuckDB stops at exactly
    the iteration the Spark driver loop does and ``n_iters`` certifies
    it in the hash (the q_pagerank_converged oracle pattern)."""
    mins = _mins_sql()
    bands = _band_union_sql(N_PERM // 2, with_doc_id=True)
    return f"""
    WITH RECURSIVE sh_raw AS (
        SELECT doc_id, unnest({SHINGLES_SQL}) AS shingle FROM documents
    ),
    sig AS (
        SELECT doc_id,
               {mins}
        FROM (SELECT doc_id, {hash60_sql('shingle')} AS h FROM sh_raw)
        GROUP BY doc_id
    ),
    bands AS (
        {bands}
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM bands x
        JOIN bands y ON x.band = y.band AND x.bucket = y.bucket
                    AND x.doc_id < y.doc_id
    ),
    sh AS (SELECT DISTINCT doc_id, shingle AS s FROM sh_raw),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.a, c.b, COUNT(*) AS n_inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.a
        JOIN sh sb ON sb.doc_id = c.b AND sb.s = sa.s
        GROUP BY c.a, c.b
    ),
    pairs AS (
        SELECT i.a, i.b
        FROM inter i
        JOIN sizes za ON i.a = za.doc_id
        JOIN sizes zb ON i.b = zb.doc_id
        WHERE CAST(i.n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - i.n_inter)
              >= 0.5
    ),
    edges AS (
        SELECT a AS x, b AS y FROM pairs
        UNION SELECT b, a FROM pairs
    ),
    it(iter, labs, changed) AS (
        SELECT 0,
               (SELECT list({{'d': x, 'c': x}} ORDER BY x)
                FROM (SELECT DISTINCT x FROM edges)),
               CAST(1 AS BIGINT)
        UNION ALL
        SELECT it.iter + 1, s1.labs2, s2.nchanged
        FROM it,
          LATERAL (
            SELECT (SELECT list({{'d': nv.d, 'c': nv.c}} ORDER BY nv.d)
                    FROM (
                      SELECT o.u.d AS d,
                             LEAST(o.u.c, COALESCE(nm.m, o.u.c)) AS c
                      FROM (SELECT unnest(it.labs) AS u) o
                      LEFT JOIN (
                        SELECT e.x AS d, MIN(oc.u.c) AS m
                        FROM edges e
                        JOIN (SELECT unnest(it.labs) AS u) oc
                          ON oc.u.d = e.y
                        GROUP BY e.x
                      ) nm ON nm.d = o.u.d
                    ) nv) AS labs2
          ) s1,
          LATERAL (
            SELECT CAST(COUNT(*) FILTER (WHERE nv.u.c <> o.u.c) AS BIGINT)
                   AS nchanged
            FROM (SELECT unnest(s1.labs2) AS u) nv
            JOIN (SELECT unnest(it.labs) AS u) o ON nv.u.d = o.u.d
          ) s2
        WHERE it.changed > 0 AND it.iter < {CC_MAX_ITERS}
    ),
    fin AS (SELECT * FROM it WHERE iter = (SELECT MAX(iter) FROM it)),
    clus AS (
        SELECT o.u.d AS doc_id, o.u.c AS cluster_id
        FROM fin, LATERAL (SELECT unnest(fin.labs) AS u) o
    ),
    csz AS (SELECT cluster_id, COUNT(*) AS sz FROM clus GROUP BY cluster_id)
    SELECT sz, COUNT(*) AS n_clusters,
           (SELECT CAST(iter AS BIGINT) FROM fin) AS n_iters
    FROM csz GROUP BY sz ORDER BY sz
    """


@query("q_dedup_clusters_converged", oracle=_clusters_converged_oracle())
def q_dedup_clusters_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering under the CONVERGENCE CONTRACT (verdict r08
    #5): the same LSH -> exact-Jaccard -> label-propagation pipeline as
    q_dedup_clusters, but iterated until a round changes ZERO labels
    (loud failure past {CC_MAX_ITERS}; localCheckpoint cadence; one
    changed-count scalar per round), with ``n_iters`` IN THE HASH — the
    DuckDB oracle replays the identical per-round update inside a
    recursive CTE and must stop at the same iteration. Connected
    components is the dedup APPLY step at 100 TB: this key certifies
    the iteration DISCIPLINE, not just the fixpoint (which
    q_dedup_clusters' transitive-closure oracle already pins).

    Scale: per round one co-located join + one map-side-combinable
    min-agg over (doc_id, label) pairs only; rounds = component
    diameter; lineage bounded by the checkpoint cadence; text never
    enters the loop."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = near_dup_pairs(docs, jaccard_threshold=0.5)
    labels, n_iters = dedup_clusters(pairs)
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("sz"))
    return (
        sizes.groupBy("sz")
        .agg(F.count("*").alias("n_clusters"))
        .withColumn("n_iters", F.lit(n_iters).cast("long"))
        .orderBy("sz")
    )


def exact_text_pairs(h: DataFrame) -> DataFrame:
    """(a, b) doc-id pairs, a < b, whose texts are identical, from a frame
    of (doc_id, text, h, hl). The 12-byte (xxhash64, length) composite is
    only the equi-join key (§2.3: narrower than hex md5); a residual
    collision on it (E ~ n^2/2^65 for a bare 64-bit hash) must not emit a
    wrong pair row, so the pair predicate also compares the texts."""
    return (
        h.alias("x")
        .join(h.alias("y"), ["h", "hl"])
        .where(
            (F.col("x.doc_id") < F.col("y.doc_id"))
            & (F.col("x.text") == F.col("y.text"))
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
    )


@query(
    "q_crossmodal_dedup",
    oracle="""
    WITH txt AS (
        SELECT a.doc_id AS a, b.doc_id AS b
        FROM documents a JOIN documents b
          ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
    ),
    emb AS (
        SELECT a.vec_id AS a, b.vec_id AS b
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(a.embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                 * sqrt(list_sum(list_transform(b.embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
              >= 0.95
    )
    SELECT (SELECT COUNT(*) FROM txt) AS n_text_pairs,
           (SELECT COUNT(*) FROM emb) AS n_embed_pairs,
           (SELECT COUNT(*) FROM txt JOIN emb USING (a, b)) AS n_both
    """,
)
def q_crossmodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal dedup agreement: exact-text duplicate pairs vs
    embedding near-dup pairs (cosine >= 0.95, label-blocked) over the
    SAME id space (doc_id == vec_id in the testdata) — the sanity check a
    production dedup stack runs before trusting either signal alone.
    Both pair sets key on content hashes / blocked cells, never all-pairs."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    txt = exact_text_pairs(
        docs.select(
            "doc_id",
            "text",
            F.xxhash64("text").alias("h"),
            F.length("text").alias("hl"),
        )
    )

    from saas_analytics_pipeline_spark.operators.similarity import (
        cos_expr,
        norm_col,
    )

    e = emb.select(
        "vec_id", "embedding", "label", norm_col("embedding").alias("nrm")
    )
    pairs = (
        e.select(F.col("vec_id").alias("a"), F.col("embedding").alias("x_emb"),
                 F.col("label").alias("la"), F.col("nrm").alias("xn"))
        .join(
            e.select(F.col("vec_id").alias("b"),
                     F.col("embedding").alias("y_emb"),
                     F.col("label").alias("lb"), F.col("nrm").alias("yn")),
            (F.col("la") == F.col("lb")) & (F.col("a") < F.col("b")),
        )
        .where(cos_expr("x_emb", "y_emb", a_norm="xn", b_norm="yn") >= 0.95)
        .select("a", "b")
    )

    n_text = txt.agg(F.count("*").alias("n")).select(
        F.col("n").alias("n_text_pairs")
    )
    n_emb = pairs.agg(F.count("*").alias("n")).select(
        F.col("n").alias("n_embed_pairs")
    )
    n_both = txt.join(pairs, ["a", "b"]).agg(F.count("*").alias("n")).select(
        F.col("n").alias("n_both")
    )
    return n_text.crossJoin(n_emb).crossJoin(n_both)


@query(
    "q_dedup_cross_source",
    oracle="""
    WITH h AS (SELECT DISTINCT md5(text) AS h, source FROM documents),
    spread AS (
        SELECT h, COUNT(*) AS n_sources FROM h GROUP BY h
    )
    SELECT n_sources, COUNT(*) AS n_contents
    FROM spread GROUP BY n_sources
    """,
)
def q_dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate provenance: how many distinct contents
    appear in 1, 2, ... sources — the signal that separates in-crawl
    dupes from syndicated/mirrored content (different dedup policies
    apply). Two hash-aggs over (hash, source); text never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    # r13: xxhash64 over md5 — grouping-only content key (§2.3)
    h = docs.select(F.xxhash64("text").alias("h"), "source").distinct()
    spread = h.groupBy("h").agg(F.count("*").alias("n_sources"))
    return spread.groupBy("n_sources").agg(F.count("*").alias("n_contents"))


def _sig_est_oracle() -> str:
    eq_terms = " + ".join(
        f"CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END" for j in range(N_PERM)
    )
    mins = _mins_sql()
    return f"""
    WITH sh AS (
        SELECT doc_id, unnest({SHINGLES_SQL}) AS shingle
        FROM documents WHERE doc_id % 10 = 0
    ),
    hashed AS (SELECT doc_id, {hash60_sql('shingle')} AS h FROM sh),
    sig AS (
        SELECT doc_id, {mins}
        FROM hashed GROUP BY doc_id
    ),
    dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb,
               ({eq_terms}) / {N_PERM}.0 AS est
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT x.doc_id AS ida, y.doc_id AS idb, COUNT(*) AS n_inter
        FROM dsh x JOIN dsh y
          ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        GROUP BY 1, 2
    )
    SELECT COUNT(*) AS n_pairs,
           round(AVG(abs(p.est
               - COALESCE(i.n_inter, 0)::DOUBLE
                 / (za.n + zb.n - COALESCE(i.n_inter, 0)))), 6) AS mean_abs_err,
           round(MAX(p.est), 6) AS max_est
    FROM pairs p
    LEFT JOIN inter i ON p.ida = i.ida AND p.idb = i.idb
    JOIN sizes za ON p.ida = za.doc_id
    JOIN sizes zb ON p.idb = zb.doc_id
    """


@query("q_sketch_error", oracle=_sig_est_oracle())
def q_sketch_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch validation: MinHash signature-agreement Jaccard estimate vs
    exact shingle Jaccard over all pairs in the %10 subset, reported as
    mean absolute error — the measurement that justifies trusting the
    sketch at scales where exact Jaccard is unaffordable. Both estimator
    and truth are deterministic, so even this VALIDATION is
    oracle-replayable."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    sig = minhash_signatures(docs)
    est_expr = sum(
        F.when(F.col(f"a_mh{j}") == F.col(f"b_mh{j}"), 1).otherwise(0)
        for j in range(N_PERM)
    ) / float(N_PERM)
    a = sig.select(
        F.col("doc_id").alias("ida"),
        *[F.col(f"mh{j}").alias(f"a_mh{j}") for j in range(N_PERM)],
    )
    b = sig.select(
        F.col("doc_id").alias("idb"),
        *[F.col(f"mh{j}").alias(f"b_mh{j}") for j in range(N_PERM)],
    )
    pairs = a.join(b, F.col("ida") < F.col("idb")).select(
        "ida", "idb", est_expr.alias("est")
    )

    # r13 (guide §2.3): exact-side shingles hash to longs scan-side — the
    # self-join shuffles 8-byte keys, not shingle strings (counts identical)
    dsh = docs.select("doc_id", F.split("text", " ").alias("_toks")).select(
        "doc_id",
        F.explode(
            F.array_distinct(window_hashes(F.col("_toks"), SHINGLE_W))
        ).alias("s"),
    )
    sizes = dsh.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        dsh.alias("x")
        .join(
            dsh.alias("y"),
            (F.col("x.s") == F.col("y.s"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("ida"), F.col("y.doc_id").alias("idb")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    joined = (
        pairs.join(inter, ["ida", "idb"], "left")
        .join(sizes.select(F.col("doc_id").alias("ida"),
                           F.col("n").alias("na")), "ida")
        .join(sizes.select(F.col("doc_id").alias("idb"),
                           F.col("n").alias("nb")), "idb")
        .select(
            "est",
            (
                F.coalesce("n_inter", F.lit(0)).cast("double")
                / (F.col("na") + F.col("nb") - F.coalesce("n_inter", F.lit(0)))
            ).alias("exact"),
        )
    )
    return joined.agg(
        F.count("*").alias("n_pairs"),
        F.round(F.avg(F.abs(F.col("est") - F.col("exact"))), 6).alias(
            "mean_abs_err"
        ),
        F.round(F.max("est"), 6).alias("max_est"),
    )


# --------------------------------------------------------------------------
# dedup APPLY steps: survivorship + incremental new-batch-vs-corpus
# --------------------------------------------------------------------------
@query(
    "q_dedup_survivors",
    oracle="""
    WITH grp AS (
        SELECT l_orderkey, l_linenumber
        FROM lineitem GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    ranked AS (
        SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate,
               CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) AS DOUBLE)
                   AS l_extendedprice,
               COUNT(*) OVER (PARTITION BY l.l_orderkey, l.l_linenumber)
                   AS n_members,
               ROW_NUMBER() OVER (
                   PARTITION BY l.l_orderkey, l.l_linenumber
                   ORDER BY l.l_shipdate DESC, l.l_extendedprice DESC,
                            l.l_quantity DESC, l.l_discount, l.l_tax,
                            l.l_returnflag, l.l_linestatus,
                            l.l_partkey, l.l_suppkey
               ) AS rn
        FROM lineitem l
        JOIN grp USING (l_orderkey, l_linenumber)
    )
    SELECT l_orderkey, l_linenumber, n_members, l_shipdate, l_extendedprice
    FROM ranked WHERE rn = 1
    """,
)
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship — the APPLY step of exact dedup: for every duplicated
    (l_orderkey, l_linenumber) natural key (the reference's injected dup
    rows, `/root/reference/data_gen/pseudo_code_rules.txt:39-47`), pick ONE
    canonical row by an explicit precedence rule (latest shipdate, then
    highest price, then the full remaining column list so the pick is
    total-order deterministic), and report the group size. Complements
    q_dedup_exact/q_dedup_latest, which COUNT or keep-latest but don't
    express a multi-criteria survivorship policy.

    Scale: the HAVING pre-aggregation keys the dup groups first, so the
    window ranks only rows belonging to duplicated keys (~survivor-set
    sized, not fact-sized); both the group-by and the window share the
    same (orderkey, linenumber) hash partitioning — one shuffle of the
    slim key columns, one of the dup rows."""
    li = load_table(spark, sf_dir, "lineitem")
    from pyspark.sql import Window

    grp = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count("*").alias("n_members"))
        .where(F.col("n_members") >= 2)
    )
    w = Window.partitionBy("l_orderkey", "l_linenumber").orderBy(
        F.desc("l_shipdate"), F.desc("l_extendedprice"), F.desc("l_quantity"),
        F.asc("l_discount"), F.asc("l_tax"), F.asc("l_returnflag"),
        F.asc("l_linestatus"), F.asc("l_partkey"), F.asc("l_suppkey"),
    )
    return (
        li.join(grp, ["l_orderkey", "l_linenumber"])
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "l_orderkey",
            "l_linenumber",
            "n_members",
            "l_shipdate",
            F.col("l_extendedprice").cast("decimal(18,2)").cast("double")
            .alias("l_extendedprice"),
        )
    )


INCR_CUTOFF = "2000-01-01 00:00:00"  # corpus < cutoff <= new batch


@query(
    "q_dedup_incremental",
    oracle=f"""
    WITH old AS (
        SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem
        WHERE l_shipdate < TIMESTAMP '{INCR_CUTOFF}'
    ),
    batch AS (
        SELECT l_orderkey, l_linenumber FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{INCR_CUTOFF}'
    )
    SELECT COUNT(*) AS n_batch,
           CAST(SUM(CASE WHEN o.l_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN o.l_orderkey IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped
    FROM batch b
    LEFT JOIN old o USING (l_orderkey, l_linenumber)
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the daily-load APPLY step: rows arriving after
    the cutoff are dropped when their natural key was already loaded in
    the historical corpus (replayed/duplicated deliveries landing in a
    later period). The production shape of q_dedup_exact: dedup the NEW
    batch against the EXISTING corpus without re-deduping history.

    Scale: only the (orderkey, linenumber) key columns of each side
    shuffle — the corpus is pre-DISTINCTed (map-side partial) before the
    join. At 100 TB the corpus key-set read prunes to the partitions the
    batch's keys could collide with, and a bloom filter built from the
    batch keys pre-filters the corpus scan (Spark does this automatically
    via runtime row-group filtering when the join is selective); the
    anti-join itself stays a hash equi-join on bounded keys."""
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit(INCR_CUTOFF).cast("timestamp")
    old = (
        li.where(F.col("l_shipdate") < cutoff)
        .select("l_orderkey", "l_linenumber")
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    batch = li.where(F.col("l_shipdate") >= cutoff).select(
        "l_orderkey", "l_linenumber"
    )
    joined = batch.join(old, ["l_orderkey", "l_linenumber"], "left")
    return joined.agg(
        F.count("*").alias("n_batch"),
        F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.sum(F.when(F.col("seen").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
    )


@query(
    "q_dedup_prefix",
    oracle="""
    WITH pref AS (
        SELECT doc_id, source,
               md5(array_to_string(string_split(text, ' ')[1:16], ' ')) AS ph
        FROM documents
    )
    SELECT ph AS prefix_hash,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT source) AS n_sources,
           MIN(doc_id) AS survivor_id
    FROM pref
    GROUP BY ph
    HAVING COUNT(*) > 1
    """,
)
def q_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix dedup: documents sharing an identical first-16-token prefix
    (mirror/boilerplate detection — near-identical pages differing only in
    a tail, which full-content hashing misses and MinHash may under-rank
    when the shared prefix is short relative to the doc).

    Scale: the prefix hash is scan-local (slice + md5); only
    (hash, doc_id, source) shuffles — same contract as q_dedup_exact, the
    text never moves. Survivor = min doc_id, consistent with
    q_dedup_survivors' keep-first rule."""
    docs = load_table(spark, sf_dir, "documents")
    ph = F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 16)))
    return (
        docs.select("doc_id", "source", ph.alias("prefix_hash"))
        .groupBy("prefix_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.min("doc_id").alias("survivor_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def _lsh_skew_oracle() -> str:
    """DuckDB twin of the NARROW (2-row x 8-band) candidate banding used
    by near_dup_pairs, aggregated to per-band bucket-size stats."""
    mins = _mins_sql()
    band_rows = _band_union_sql(N_PERM // 2, with_doc_id=False)
    return f"""
    WITH sh AS (
        SELECT doc_id, unnest({SHINGLES_SQL}) AS shingle
        FROM documents WHERE doc_id % 10 = 0
    ),
    hashed AS (
        SELECT doc_id, {hash60_sql('shingle')} AS h FROM sh
    ),
    sig AS (
        SELECT doc_id,
               {mins}
        FROM hashed GROUP BY doc_id
    ),
    bands AS (
{band_rows}
    ),
    buckets AS (
        SELECT band, bucket, COUNT(*) AS sz
        FROM bands GROUP BY band, bucket
    )
    SELECT band,
           COUNT(*) AS n_buckets,
           CAST(MAX(sz) AS BIGINT) AS max_bucket,
           CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS n_cand_pairs,
           CAST(MAX(sz) AS DOUBLE) / SUM(sz) AS top_share
    FROM buckets GROUP BY band
    """


@query("q_lsh_bucket_skew", oracle=_lsh_skew_oracle())
def q_lsh_bucket_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-skew audit over the candidate banding (2 rows x 8 bands,
    the exact layout near_dup_pairs generates candidates from; subset
    doc_id%10=0 matching q_dedup_minhash's oracle bound): per band, bucket
    count, largest bucket, implied candidate-pair load sum(sz choose 2),
    and the top bucket's occupancy share.

    This is the 100 TB go/no-go gauge for the dedup run itself: one hot
    bucket (e.g. a boilerplate shingle flooding a band) turns per-bucket
    candidate generation quadratic — this audit is how that gets caught
    BEFORE the pair join runs, and its output is what a salting/bucket-cap
    mitigation keys on.

    Scale: signatures are the same scan-side min-aggregates as
    q_dedup_minhash; the bucket rollup shuffles (band, bucket) pairs —
    16 bytes per doc per band — and the per-band stats are 8 rows."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    bands = lsh_band_buckets(docs).select("band", "bucket")
    buckets = bands.groupBy(
        F.col("band").cast("long").alias("band"), "bucket"
    ).agg(F.count("*").alias("sz"))
    return buckets.groupBy("band").agg(
        F.count("*").alias("n_buckets"),
        F.max("sz").alias("max_bucket"),
        F.sum(F.expr("sz * (sz - 1) div 2")).alias("n_cand_pairs"),
        (F.max("sz").cast("double") / F.sum("sz")).alias("top_share"),
    )


# --------------------------------------------------------------------------
# Two-sided incremental MinHash-LSH dedup (verdict r5 next-round #2)
# --------------------------------------------------------------------------

def _lsh_incr_oracle() -> str:
    """DuckDB replay of the full incremental pipeline: signatures -> narrow
    band buckets (the lsh_band_buckets layout) -> new-vs-old + new-vs-new
    candidates -> exact-Jaccard verify -> per-batch-doc decision."""
    return f"""
    WITH sh AS (
        SELECT doc_id, unnest({SHINGLES_SQL}) AS shingle FROM documents
    ),
    hashed AS (
        SELECT doc_id, {hash60_sql('shingle')} AS h FROM sh
    ),
    sig AS (
        SELECT doc_id,
               {_mins_sql()}
        FROM hashed GROUP BY doc_id
    ),
    bands AS (
        {_band_union_sql(N_PERM // 2, with_doc_id=True)}
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.bucket = y.bucket
        WHERE y.doc_id % 3 = 0 AND x.doc_id <> y.doc_id
          AND (x.doc_id % 3 <> 0 OR x.doc_id < y.doc_id)
    ),
    dsh AS (
        SELECT DISTINCT doc_id, unnest({SHINGLES_SQL}) AS s FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id),
    inter AS (
        SELECT c.a, c.b, COUNT(*) AS n_inter
        FROM cand c
        JOIN dsh sa ON sa.doc_id = c.a
        JOIN dsh sb ON sb.doc_id = c.b AND sb.s = sa.s
        GROUP BY 1, 2
    ),
    verified AS (
        SELECT i.a, i.b FROM inter i
        JOIN sizes za ON i.a = za.doc_id
        JOIN sizes zb ON i.b = zb.doc_id
        WHERE CAST(i.n_inter AS DOUBLE)
                  / (za.n_sh + zb.n_sh - i.n_inter) >= 0.7
    )
    SELECT d.doc_id,
           CAST(COALESCE(MAX(CASE WHEN v.a % 3 <> 0 THEN 1 END), 0) AS INT)
               AS dup_vs_corpus,
           CAST(COALESCE(MAX(CASE WHEN v.a % 3 = 0 THEN 1 END), 0) AS INT)
               AS dup_in_batch,
           CAST(CASE WHEN COUNT(v.a) = 0 THEN 1 ELSE 0 END AS INT)
               AS accepted
    FROM documents d
    LEFT JOIN verified v ON v.b = d.doc_id
    WHERE d.doc_id % 3 = 0
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """


def incremental_candidates(docs: DataFrame) -> DataFrame:
    """Candidate pairs for the two-sided incremental dedup, as ONE
    banding self-join with membership predicates: the right side must be
    a batch doc (old-vs-old never pairs), corpus-vs-batch pairs are
    unordered, batch-vs-batch pairs keep a < b. Set-identical to the
    two-leg (new-vs-old UNION new-vs-new) construction — the probe
    (tools/lsh_probe.py) asserts the count equals the batch candidates
    touching >= 1 new doc — but with one banding subplan per join SIDE
    instead of one per leg: Catalyst pushes the y-side membership
    predicate below the banding to the scan, so the probe side bands
    ONLY batch docs (the persisted-corpus production shape computes
    exactly that) and the build side bands each doc once instead of
    once per leg it appears in. Mirrors the oracle's `cand` CTE
    exactly."""
    bands = lsh_band_buckets(docs)
    return (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "bucket"])
        .where(
            (F.col("y.doc_id") % 3 == 0)
            & (F.col("x.doc_id") != F.col("y.doc_id"))
            & (
                (F.col("x.doc_id") % 3 != 0)
                | (F.col("x.doc_id") < F.col("y.doc_id"))
            )
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )


@query("q_dedup_lsh_incremental", oracle=_lsh_incr_oracle())
def q_dedup_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided incremental MinHash-LSH dedup — the production shape of
    near-dup dedup: a NEW batch (doc_id%3=0 here; a daily crawl delivery
    in production) is deduped against the ACCEPTED corpus's persisted band
    table (new-vs-old) AND against itself (new-vs-new, keep-smallest-id),
    without ever re-banding or re-pairing the historical corpus
    (old-vs-old never runs — that work was done when those docs were
    accepted). Anchored on the reference's duplicate-injection contract
    (data_gen/pseudo_code_rules.txt:39-47); q_dedup_incremental is the
    exact-hash precedent, this is the near-dup upgrade.

    Per batch doc: dup_vs_corpus / dup_in_batch flags (exact Jaccard >=
    0.7 on LSH candidates only) and the resulting accept decision.

    Scale (100 TB corpus, ~TB-scale daily batch): the corpus side is a
    stored (doc_id, band, bucket) table bucketed by (band, bucket) — the
    join with the batch's bands shuffles ONLY the batch side; corpus text
    is re-read ONLY for docs that appear in a candidate pair (the
    left-semi prune inside pairwise_jaccard == a doc_id-pruned scan
    against the corpus lake). Candidate volume stays LSH-bounded on both
    legs; the candidate construction is ONE banding self-join with
    membership predicates (incremental_candidates), so each side bands
    every doc at most once — and the candidate set is cache()d before
    the verify fan-out (see below)."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 3 == 0)
    # production: the corpus side of the banding is a persisted table
    # keyed (band, bucket); recomputed here because the test lake stores
    # no derived state
    # the candidate set is the natural materialization barrier (production
    # persists it before the verify pass): it is consumed 5x downstream
    # (pair join, both set joins, the accept rollup), each consumption
    # would otherwise recompute the banding self-join — localCheckpoint
    # bounds that to one build. LSH-bounded rows (a, b), ~16 bytes/pair.
    # localCheckpoint, NOT cache(): CacheManager holds cached plans by
    # strong reference forever, while checkpoint blocks free when the
    # plan is garbage-collected — i.e. when qcatalog._PLAN_CACHE evicts
    # this query's memoized frame on session turnover (ADVICE r6).
    cand = incremental_candidates(docs).localCheckpoint(eager=False)
    verified = pairwise_jaccard(cand, docs).where(F.col("jaccard") >= 0.7)
    return (
        batch.select("doc_id")
        .join(verified, F.col("b") == F.col("doc_id"), "left")
        .groupBy("doc_id")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("a") % 3 != 0, 1)), F.lit(0)
            ).cast("int").alias("dup_vs_corpus"),
            F.coalesce(
                F.max(F.when(F.col("a") % 3 == 0, 1)), F.lit(0)
            ).cast("int").alias("dup_in_batch"),
            F.when(F.count("a") == 0, 1).otherwise(0)
            .cast("int").alias("accepted"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Maximal exact-substring (token-window) duplication — the suffix-array
# modality
# ---------------------------------------------------------------------------

RUN_W = 8  # exact-overlap window width in tokens (the "50-token" knob)


def span_islands_agg(dup_positions: DataFrame, w: int = RUN_W) -> DataFrame:
    """Interval-union duplicated window starts into MAXIMAL disjoint
    spans per doc, returned as ONE ascending array column per document:
    (doc_id, spans: array<struct<span_start, span_end>>) — island k of
    the exploded form is ``spans[k-1]``.

    r14 (guide §2.4): one map-side-combinable hash aggregate
    (collect_list) replaces the r13 Exchange + Sort + lag/running-max
    Window pair + re-aggregate — the exploded (doc_id, pos) rows
    collapse to one row per doc BEFORE the doc_id exchange, and no sort
    or Window node remains on the islands path. The fold over the
    sorted positions is positional (island STARTS are where
    pos[i] - pos[i-1] >= w — windows [p, p+w-1] merge when they
    OVERLAP; a window starting exactly at prev_end + 1 merely touches
    and starts a new island, the same overlap-only rule the DuckDB
    oracles implement — and each island closes at the element before
    the next start), not a quadratic array-append. Per-group state is
    bounded by window positions per document — the same per-doc bound
    the r13 window sort held in its partition buffer."""
    ps = F.col("_ps")
    si = F.col("_si")
    starts = F.filter(
        F.transform(ps, lambda _x, i: i),
        lambda i: (i == 0) | (F.get(ps, i) - F.get(ps, i - 1) >= w),
    )
    spans = F.transform(
        si,
        lambda s, j: F.struct(
            F.get(ps, s).alias("span_start"),
            (
                F.when(j + 1 < F.size(si), F.get(ps, F.get(si, j + 1) - 1))
                .otherwise(F.element_at(ps, -1))
                + F.lit(w - 1)
            ).alias("span_end"),
        ),
    )
    return (
        dup_positions.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("_ps"))
        .withColumn("_si", starts)
        .select("doc_id", spans.alias("spans"))
    )


def span_islands(dup_positions: DataFrame, w: int = RUN_W) -> DataFrame:
    """Exploded row form of :func:`span_islands_agg`: input (doc_id,
    pos), output (doc_id, island, span_start, span_end, span_tokens).
    Shared by the batch audit, the keep-first rewrite, and the
    incremental/stream variants — span_islands_agg owns the exactness
    argument; this wrapper only numbers the islands (1-based, ascending
    span order, matching the r13 running-sum island ids) and derives
    span_tokens."""
    return (
        span_islands_agg(dup_positions, w=w)
        .select("doc_id", F.posexplode("spans").alias("_i", "_s"))
        .select(
            "doc_id",
            (F.col("_i") + 1).cast("long").alias("island"),
            F.col("_s.span_start").alias("span_start"),
            F.col("_s.span_end").alias("span_end"),
            (F.col("_s.span_end") - F.col("_s.span_start") + 1).alias(
                "span_tokens"
            ),
        )
    )


def dup_span_intervals(
    docs: DataFrame, w: int = RUN_W, max_window_df: int | None = None
) -> DataFrame:
    """Maximal cross-doc duplicated spans per document — what a suffix
    array gives a single-node dedup pipeline, re-expressed as three
    shuffle-bounded DataFrame stages:

    1. window index: every {RUN_W}-token window keyed by the house 60-bit
       content hash (one md5 per window, scan-side);
    2. cross-doc filter: windows whose hash occurs in >= 2 DISTINCT docs
       (map-side-combinable count-distinct; within-doc repeats alone
       don't count — this is the cross-document contamination signal);
    3. interval union per doc: duplicated window starts [p, p+W-1] merge
       into MAXIMAL disjoint spans via the running-max-end island trick
       (overlapping windows coalesce, so covered-token counts are exact,
       not window-count approximations).

    Returns (doc_id, island, span_start, span_end, span_tokens).

    Scale: the only data-sized shuffles key on the 60-bit window hash
    and on doc_id — window TEXT never shuffles (it dies into the hash at
    the scan); the per-doc interval union windows over (doc_id, int)
    pairs. At 100 TB this is the RefinedWeb/Pile exact-substring dedup
    shape with the suffix array replaced by a hash inverted index —
    same spans for widths >= the window, at 1/20th the sort cost.

    r10: the cross-doc filter is a window aggregate over the hash
    partition (max dense_rank == COUNT(DISTINCT doc_id)) instead of the
    r09 groupBy + self-semi-join — the corpus is tokenized and hashed
    ONCE (one Generate subtree) and the index shuffles ONCE on h,
    instead of twice (aggregate input + probe side of the join).

    r12 hot-hash ceiling (``max_window_df``, VERDICT r11 #3): the
    default window path lands EVERY occurrence of one hash in one
    task's sort — at 100 TB a boilerplate window (a licence header
    shared by millions of docs) serializes that task. With
    ``max_window_df=K`` set, windows shared by more than K distinct
    docs are DROPPED from the dup-span signal (they are boilerplate by
    definition — q_boilerplate's output, same df-ceiling rule as
    q_containment's stop-shingles) and the cross-doc filter switches to
    the map-side-combinable ``groupBy(h).count_distinct`` + semi-join:
    a hot hash collapses to per-partition partials before the shuffle
    and is eliminated BEFORE the probe join, so no task ever owns its
    full occurrence list. Cost: the corpus tokenizes/hashes twice
    (aggregate input + probe side — scan-side CPU, no extra text
    shuffle). Equivalence to the window path at the same K, plus the
    bounded-wall-time claim on a boilerplate-heavy synthesis, is
    measured in tools/dupspan_probe.py (docs/PROBES.json)."""
    return span_islands(_dup_positions(docs, w, max_window_df), w=w)


def dup_span_intervals_agg(
    docs: DataFrame, w: int = RUN_W, max_window_df: int | None = None
) -> DataFrame:
    """:func:`dup_span_intervals` in the per-doc array form of
    :func:`span_islands_agg` — for consumers that roll spans up per doc
    anyway (q_dup_spans), skipping the explode + re-aggregate."""
    return span_islands_agg(_dup_positions(docs, w, max_window_df), w=w)


def _dup_positions(
    docs: DataFrame, w: int = RUN_W, max_window_df: int | None = None
) -> DataFrame:
    """(doc_id, pos) of every cross-document-duplicated window — the
    shared detection stage of dup_span_intervals{,_agg}. The batch scan
    is spread before the window explode+hash (sources.spread_for_fanout:
    a no-op unless the input arrives in too few splits to occupy the
    cores); the streaming probe reaches doc_window_positions directly."""
    wins = doc_window_positions(spread_for_fanout(docs), w=w)
    if max_window_df is not None:
        shared = (
            wins.groupBy("h")
            .agg(F.count_distinct("doc_id").alias("nd"))
            .where((F.col("nd") >= 2) & (F.col("nd") <= max_window_df))
            .select("h")
        )
        return wins.join(shared, "h", "left_semi").select("doc_id", "pos")
    # r13: "h occurs in >= 2 DISTINCT docs" == "min(doc_id) != max(doc_id)
    # over h" — one unordered window frame instead of the r10
    # dense_rank-over-(h, doc_id) + max-over-(h) pair (two Window nodes
    # and a wider sort key); same rows, one less Window pass (guide §2.4).
    w_h = Window.partitionBy("h")
    return (
        wins.withColumn("mn", F.min("doc_id").over(w_h))
        .withColumn("mx", F.max("doc_id").over(w_h))
        .where(F.col("mn") != F.col("mx"))
        .select("doc_id", "pos")
    )


def _dup_spans_oracle() -> str:
    return f"""
    WITH wins AS (
        SELECT doc_id, o.u.p AS pos, {hash60_sql('o.u.w')} AS h
        FROM (
            SELECT doc_id,
                   list_transform(
                       range(1, greatest(len(sp) - {RUN_W - 2}, 1)),
                       i -> {{'p': i - 1,
                              'w': array_to_string(sp[i:i+{RUN_W - 1}], ' ')}}
                   ) AS ws
            FROM (SELECT doc_id, string_split(text, ' ') AS sp
                  FROM documents)
        ) t, LATERAL (SELECT unnest(t.ws) AS u) o
    ),
    shared AS (
        SELECT h FROM wins GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    dup AS (SELECT w.doc_id, w.pos FROM wins w JOIN shared s ON w.h = s.h),
    flagged AS (
        SELECT doc_id, pos,
               CASE WHEN pos > COALESCE(
                        MAX(pos + {RUN_W - 1}) OVER (
                            PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING),
                        -1)
                    THEN 1 ELSE 0 END AS new_island
        FROM dup
    ),
    isl AS (
        SELECT doc_id, pos,
               SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos)
                   AS island
        FROM flagged
    ),
    spans AS (
        SELECT doc_id, island,
               MAX(pos) + {RUN_W} - MIN(pos) AS span_tokens
        FROM isl GROUP BY doc_id, island
    ),
    per_doc AS (
        SELECT d.source, s.doc_id,
               COUNT(*) AS n_spans,
               SUM(s.span_tokens) AS covered,
               MAX(s.span_tokens) AS max_span
        FROM spans s JOIN documents d ON d.doc_id = s.doc_id
        GROUP BY d.source, s.doc_id
    )
    SELECT source,
           COUNT(*) AS n_docs_with_dup,
           CAST(SUM(n_spans) AS BIGINT) AS n_spans,
           CAST(SUM(covered) AS BIGINT) AS covered_tokens,
           CAST(MAX(max_span) AS BIGINT) AS max_span_tokens
    FROM per_doc GROUP BY source ORDER BY source
    """


@query("q_dup_spans", oracle=_dup_spans_oracle())
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal exact-substring duplication audit (r09): per source, how
    many docs carry a cross-document EXACT {RUN_W}-token overlap, how
    many maximal spans, how many tokens those spans cover (exact
    interval union — overlapping windows coalesce), and the longest
    span. The suffix-array dedup modality (RefinedWeb/Pile exact
    substring at 50 tokens — the w=50 production point is MEASURED, not
    asserted: tools/dupspan_probe.py carries a w=50 row at sf0.1 and
    sf1, docs/PROBES.json) beside the existing shingle-containment
    (q_dup_span_fraction) and MinHash (q_dedup_minhash) families: this
    one certifies EXACT maximal runs, the signal used to cut verbatim
    boilerplate and licence blocks out of training corpora.

    Scale: see dup_span_intervals — window text dies into a 60-bit hash
    at the scan; shuffles carry (hash) and (doc_id, int) pairs only.
    The 100 TB deployment sets dup_span_intervals' ``max_window_df``
    ceiling so boilerplate windows (shared by more than K docs — one
    licence header in millions of docs would serialize a task's sort)
    drop from the signal via the map-side-combinable aggregate path;
    the certificate pins the uncapped default (testdata carries no hot
    hash) and tools/dupspan_probe.py measures both the capped path's
    equivalence and its bounded wall time on a boilerplate-heavy
    synthesis (VERDICT r11 #3).

    Reference scope: no text surface in the reference (documents are
    synthetic) — north-star extension (BASELINE.json)."""
    docs = load_table(spark, sf_dir, "documents")
    # r14: consume the per-doc ARRAY form — n_spans/covered/max_span are
    # array folds in the same projection that builds the spans, so the
    # r13 explode + re-aggregate pair disappears (guide §2.4); the
    # broadcast source attach stays at per-doc grain (r13: the old
    # join-then-groupBy(source, doc_id) re-shuffled because Catalyst
    # can't see source is functionally dependent on doc_id).
    per_doc = (
        dup_span_intervals_agg(docs)
        .select(
            "doc_id",
            F.size("spans").alias("n_spans"),
            F.aggregate(
                "spans",
                F.lit(0).cast("long"),
                lambda a, s: a + s["span_end"] - s["span_start"] + 1,
            ).alias("covered"),
            F.array_max(
                F.transform(
                    "spans", lambda s: s["span_end"] - s["span_start"] + 1
                )
            ).alias("max_span"),
        )
        .join(docs.select("doc_id", "source"), "doc_id")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs_with_dup"),
            F.sum("n_spans").cast("long").alias("n_spans"),
            F.sum("covered").cast("long").alias("covered_tokens"),
            F.max("max_span").cast("long").alias("max_span_tokens"),
        )
        .orderBy("source")
    )


def foreign_dup_spans(
    docs: DataFrame, max_window_df: int | None = None
) -> DataFrame:
    """Maximal spans to CUT under keep-first semantics: a window is
    foreign-duplicated in a doc when its content hash occurs in >= 2
    distinct docs AND this doc is not the hash's canonical owner (the
    MIN doc_id containing it — deterministic, join-free to agree on).
    Foreign window starts interval-union into maximal disjoint cut
    spans per doc; the owner doc keeps its copy untouched.

    Scale: same shuffle shape as dup_span_intervals (hash-keyed index,
    (doc_id, int) islands); owner + sharing resolve as window
    aggregates over the hash partition (r10: one Generate subtree, one
    shuffle on h — see dup_span_intervals). Same r12 hot-hash ceiling:
    ``max_window_df=K`` drops windows shared by more than K distinct
    docs (boilerplate — q_boilerplate's output) and resolves owner +
    sharing via the map-side-combinable groupBy(h) aggregate instead of
    the per-h window sort, so no single task ever owns a hot hash's
    occurrence list (VERDICT r11 #3; equivalence + bounded-task
    evidence in tools/dupspan_probe.py)."""
    return span_islands(
        _foreign_positions(docs, max_window_df), w=RUN_W
    ).select("doc_id", "island", "span_start", "span_end")


def foreign_dup_spans_agg(
    docs: DataFrame, max_window_df: int | None = None
) -> DataFrame:
    """:func:`foreign_dup_spans` in the per-doc array form of
    :func:`span_islands_agg` — for the rewrite consumer, which applies
    the spans back to the doc's own token array (q_dup_spans_rewrite)."""
    return span_islands_agg(_foreign_positions(docs, max_window_df), w=RUN_W)


def _foreign_positions(
    docs: DataFrame, max_window_df: int | None = None
) -> DataFrame:
    """(doc_id, pos) of every foreign-duplicated window (keep-first:
    the hash's MIN doc owns its copy) — the shared detection stage of
    foreign_dup_spans{,_agg}. Spread before the explode+hash, as in
    :func:`_dup_positions`."""
    wins = doc_window_positions(spread_for_fanout(docs), w=RUN_W)
    if max_window_df is not None:
        owners = (
            wins.groupBy("h")
            .agg(
                F.count_distinct("doc_id").alias("nd"),
                F.min("doc_id").alias("owner"),
            )
            .where((F.col("nd") >= 2) & (F.col("nd") <= max_window_df))
            .select("h", "owner")
        )
        return (
            wins.join(owners, "h")
            .where(F.col("doc_id") != F.col("owner"))
            .select("doc_id", "pos")
        )
    # r13: doc_id != min(doc_id)-over-h already implies the hash is
    # shared by >= 2 distinct docs, so the dense_rank/max distinct
    # count is redundant — one window aggregate instead of three
    # (two Window nodes), and no orderBy in the frame (guide §2.4).
    w_h = Window.partitionBy("h")
    return (
        wins.withColumn("owner", F.min("doc_id").over(w_h))
        .where(F.col("doc_id") != F.col("owner"))
        .select("doc_id", "pos")
    )


def _dup_spans_rewrite_oracle() -> str:
    return f"""
    WITH wins AS (
        SELECT doc_id, o.u.p AS pos, {hash60_sql('o.u.w')} AS h
        FROM (
            SELECT doc_id,
                   list_transform(
                       range(1, greatest(len(sp) - {RUN_W - 2}, 1)),
                       i -> {{'p': i - 1,
                              'w': array_to_string(sp[i:i+{RUN_W - 1}], ' ')}}
                   ) AS ws
            FROM (SELECT doc_id, string_split(text, ' ') AS sp
                  FROM documents)
        ) t, LATERAL (SELECT unnest(t.ws) AS u) o
    ),
    owners AS (
        SELECT h, MIN(doc_id) AS owner
        FROM wins GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    foreign_w AS (
        SELECT w.doc_id, w.pos
        FROM wins w JOIN owners o ON w.h = o.h
        WHERE w.doc_id <> o.owner
    ),
    flagged AS (
        SELECT doc_id, pos,
               CASE WHEN pos > COALESCE(
                        MAX(pos + {RUN_W - 1}) OVER (
                            PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING),
                        -1)
                    THEN 1 ELSE 0 END AS new_island
        FROM foreign_w
    ),
    isl AS (
        SELECT doc_id, pos,
               SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos)
                   AS island
        FROM flagged
    ),
    spans AS (
        SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + {RUN_W - 1} AS e
        FROM isl GROUP BY doc_id, island
    ),
    toks AS (
        SELECT doc_id, o.u.p AS pos, {hash60_sql('o.u.tok')} AS th
        FROM (
            SELECT doc_id,
                   list_transform(
                       range(1, len(sp) + 1),
                       i -> {{'p': i - 1, 'tok': sp[i]}}
                   ) AS tl
            FROM (SELECT doc_id, string_split(text, ' ') AS sp
                  FROM documents)
        ) t, LATERAL (SELECT unnest(t.tl) AS u) o
    ),
    removed AS (
        SELECT t.doc_id,
               COUNT(*) AS n_removed,
               SUM(CAST(t.th AS DECIMAL(38,0))) AS h_removed
        FROM toks t JOIN spans s
          ON t.doc_id = s.doc_id AND t.pos BETWEEN s.s AND s.e
        GROUP BY t.doc_id
    ),
    sizes AS (
        SELECT source, doc_id, len(string_split(text, ' ')) AS n_toks
        FROM documents
    )
    SELECT z.source,
           CAST(COUNT(r.doc_id) AS BIGINT) AS n_docs_cut,
           CAST(SUM(z.n_toks) AS BIGINT) AS tokens_before,
           CAST(SUM(z.n_toks) - COALESCE(SUM(r.n_removed), 0) AS BIGINT)
               AS tokens_after,
           CAST(COALESCE(SUM(r.n_removed), 0) AS BIGINT) AS tokens_removed,
           CAST(COALESCE(SUM(r.h_removed), 0) % 1000000007 AS BIGINT)
               AS removed_hash
    FROM sizes z LEFT JOIN removed r ON z.doc_id = r.doc_id
    GROUP BY z.source ORDER BY z.source
    """


@query("q_dup_spans_rewrite", oracle=_dup_spans_rewrite_oracle())
def q_dup_spans_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step of exact-substring dedup (r09): cut every maximal
    foreign-duplicated span (keep-first by doc_id — the hash's MIN doc
    keeps its copy) and account for the rewrite per source:
    tokens before/after, tokens removed, and a position-exact checksum
    of the REMOVED tokens (decimal sum of their 60-bit hashes, taken
    mod 1e9+7 so the check stays exact-integer cross-engine) — a
    rewrite that cut the wrong positions, cut the owner's copy, or
    double-cut overlapping spans breaks the checksum even when the
    counts happen to agree.

    Scale: owner resolution rides the same hash-keyed aggregate as
    detection; the rewrite join is token-rows x tiny-per-doc spans,
    equi on doc_id with a range residual — the linear one-touch cost
    any rewrite must pay, with window/token TEXT dying into hashes at
    the scan. At 100 TB set foreign_dup_spans' ``max_window_df``
    ceiling: boilerplate windows (> K distinct docs) drop from the cut
    signal through the map-side-combinable aggregate path instead of
    serializing one task's per-hash window sort (VERDICT r11 #3;
    measured in tools/dupspan_probe.py).

    Reference scope: north-star extension (BASELINE.json)."""
    docs = load_table(spark, sf_dir, "documents")
    # r14 (guide §2.3/§2.4): spans arrive as ONE per-doc array
    # (foreign_dup_spans_agg) and are applied to the doc's own token
    # array with array folds — the r13 posexplode of EVERY token, the
    # md5 (hash60) of every token, and the token-rows x spans range join
    # are gone: n_removed is the sum of span lengths (spans are disjoint
    # and in-bounds by construction — windows are full-width), h_removed
    # hashes ONLY the tokens the spans cover (the slice of the token
    # array), and the one doc_id equi-join carries each doc's token
    # array once instead of a 20-bytes-per-token exploded row set.
    dec0 = F.lit(0).cast("decimal(38,0)")
    spans_agg = foreign_dup_spans_agg(docs)
    sized = docs.select(
        "source", "doc_id", F.split("text", " ").alias("_toks")
    )
    per_doc = sized.join(spans_agg, "doc_id", "left").select(
        "source",
        F.size("_toks").alias("n_toks"),
        F.when(
            F.col("spans").isNotNull(),
            F.aggregate(
                "spans",
                F.lit(0).cast("long"),
                lambda a, s: a + s["span_end"] - s["span_start"] + 1,
            ),
        ).alias("n_removed"),
        F.when(
            F.col("spans").isNotNull(),
            F.aggregate(
                "spans",
                dec0,
                lambda a, s: a
                + F.aggregate(
                    F.slice(
                        F.col("_toks"),
                        s["span_start"] + 1,
                        s["span_end"] - s["span_start"] + 1,
                    ),
                    dec0,
                    lambda acc, t: acc + hash60(t).cast("decimal(38,0)"),
                ),
            ),
        ).alias("h_removed"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("n_removed").cast("long").alias("n_docs_cut"),
            F.sum("n_toks").cast("long").alias("tokens_before"),
            (F.sum("n_toks") - F.coalesce(F.sum("n_removed"), F.lit(0)))
            .cast("long")
            .alias("tokens_after"),
            F.coalesce(F.sum("n_removed"), F.lit(0))
            .cast("long")
            .alias("tokens_removed"),
            (
                F.coalesce(F.sum("h_removed"), F.lit(0).cast("decimal(38,0)"))
                % F.lit(1000000007)
            )
            .cast("long")
            .alias("removed_hash"),
        )
        .orderBy("source")
    )


def doc_window_positions(docs: DataFrame, w: int = RUN_W) -> DataFrame:
    """(doc_id, pos, h): every full-width window's start position and
    64-bit content hash — the probe-side input of the incremental /
    streaming span detectors. Window text dies into the hash scan-side.

    r13 (guide §1.2/§2.3): the text splits ONCE into a bound array column
    (hoisting it out of the window lambda measured 2.7x on the generate
    stage — Catalyst re-evaluates the split per window otherwise), and
    the window hash is xxhash64 instead of the md5-based hash60. The
    hash is INTERNAL to span detection — it never appears in any query
    output (detection keeps windows whose hash occurs in >= 2 distinct
    docs; ownership is min doc_id per hash), so any collision-free hash
    of the window text yields identical spans; equality to the md5-keyed
    DuckDB oracles is re-verified by selfcheck at sf0.001/0.01/0.1.
    Distinct-hash counts match hash60's exactly at sf0.1 (224,694).

    The hash is taken over each window's token slice (window_hashes), so
    no window string is built; docs shorter than ``w`` tokens have no
    full-width window and contribute no rows (exactness is the point of
    this modality). No spread here: the streaming job calls this with a
    fresh micro-batch frame every batch, so the batch callers spread."""
    return docs.select(
        "doc_id", F.split("text", " ").alias("_toks")
    ).select(
        "doc_id",
        F.posexplode(window_hashes(F.col("_toks"), w, whole_if_short=False)).alias(
            "pos", "h"
        ),
    )


def incremental_dup_spans(
    new_docs: DataFrame, corpus_hashes: DataFrame, w: int = RUN_W
) -> DataFrame:
    """Maximal spans of NEW docs that duplicate the ALREADY-INGESTED
    corpus (the incremental semantics: new-vs-corpus, not new-vs-new —
    q_dedup_lsh_incremental's contract at exact-run grain): new docs'
    windows semi-join the persisted corpus hash index, survivors
    interval-union per doc.

    Scale: the persisted index is (h) — 8 bytes a window, no text; the
    probe is one hash-keyed semi-join + the (doc_id, int) islands. Per
    micro-batch the stream side is |batch windows|, never corpus-sized."""
    wins = doc_window_positions(new_docs, w=w)
    dup = wins.join(corpus_hashes, "h", "left_semi").select("doc_id", "pos")
    return span_islands(dup, w=w)


def incremental_dup_spans_agg(
    new_docs: DataFrame, corpus_hashes: DataFrame, w: int = RUN_W
) -> DataFrame:
    """:func:`incremental_dup_spans` in the per-doc array form of
    :func:`span_islands_agg` (q_dup_spans_incremental rolls up per doc,
    so the exploded form's Generate + re-aggregate would be wasted)."""
    wins = doc_window_positions(new_docs, w=w)
    dup = wins.join(corpus_hashes, "h", "left_semi").select("doc_id", "pos")
    return span_islands_agg(dup, w=w)


def _dup_spans_incr_oracle() -> str:
    return f"""
    WITH wins AS (
        SELECT doc_id, o.u.p AS pos, {hash60_sql('o.u.w')} AS h
        FROM (
            SELECT doc_id,
                   list_transform(
                       range(1, greatest(len(sp) - {RUN_W - 2}, 1)),
                       i -> {{'p': i - 1,
                              'w': array_to_string(sp[i:i+{RUN_W - 1}], ' ')}}
                   ) AS ws
            FROM (SELECT doc_id, string_split(text, ' ') AS sp
                  FROM documents)
        ) t, LATERAL (SELECT unnest(t.ws) AS u) o
    ),
    corpus_h AS (
        SELECT DISTINCT h FROM wins WHERE doc_id % 2 <> 0
    ),
    dup AS (
        SELECT w.doc_id, w.pos FROM wins w
        JOIN corpus_h c ON w.h = c.h
        WHERE w.doc_id % 2 = 0
    ),
    flagged AS (
        SELECT doc_id, pos,
               CASE WHEN pos > COALESCE(
                        MAX(pos + {RUN_W - 1}) OVER (
                            PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING),
                        -1)
                    THEN 1 ELSE 0 END AS new_island
        FROM dup
    ),
    isl AS (
        SELECT doc_id, pos,
               SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos)
                   AS island
        FROM flagged
    ),
    spans AS (
        SELECT doc_id, island,
               MAX(pos) + {RUN_W} - MIN(pos) AS span_tokens
        FROM isl GROUP BY doc_id, island
    ),
    per_doc AS (
        SELECT d.source, s.doc_id,
               COUNT(*) AS n_spans,
               SUM(s.span_tokens) AS covered,
               MAX(s.span_tokens) AS max_span
        FROM spans s JOIN documents d ON d.doc_id = s.doc_id
        GROUP BY d.source, s.doc_id
    )
    SELECT source,
           COUNT(*) AS n_docs_with_dup,
           CAST(SUM(n_spans) AS BIGINT) AS n_spans,
           CAST(SUM(covered) AS BIGINT) AS covered_tokens,
           CAST(MAX(max_span) AS BIGINT) AS max_span_tokens
    FROM per_doc GROUP BY source ORDER BY source
    """


@query("q_dup_spans_incremental", oracle=_dup_spans_incr_oracle())
def q_dup_spans_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact-substring detection (r09): the corpus half
    (odd doc_ids) persists its window-hash index ONCE; the ingest half
    (even doc_ids) probes it — new docs' maximal spans duplicating the
    already-ingested corpus, per-source rollup in the hash. The
    new-vs-corpus contract (not new-vs-new) is what a daily ingest
    needs: yesterday's corpus never recomputes, today's batch costs
    |batch windows|. The streaming twin (run_dupspan_stream) applies
    the identical probe per micro-batch; batching-independence is
    pinned by tests/test_streaming.py.

    Scale: the persisted index is 8 bytes a window; the probe is one
    hash-keyed semi-join + (doc_id, int) islands — see
    incremental_dup_spans. Hot hashes never serialize a task here:
    there is no per-h window sort on this path (the semi-join streams),
    and a 100 TB deployment additionally excludes boilerplate windows
    from the PERSISTED index at build time with dup_span_intervals'
    ``max_window_df`` ceiling (VERDICT r11 #3), which also keeps the
    index from carrying its hottest — least informative — entries.

    Reference scope: north-star extension (BASELINE.json)."""
    from saas_analytics_pipeline_spark.scratch import fresh_scratch

    docs = load_table(spark, sf_dir, "documents")
    index_path = fresh_scratch("saas_dupspan_index", sf_dir)
    corpus = docs.where(F.col("doc_id") % 2 != 0)
    doc_window_positions(corpus).select("h").distinct().write.parquet(
        index_path
    )
    new_docs = docs.where(F.col("doc_id") % 2 == 0)
    # r14: per-doc rollup as array folds over the span_islands_agg form
    # (no explode + re-aggregate — see q_dup_spans); source attaches by
    # broadcast after, at per-doc grain (guide §2.4)
    per_doc = (
        incremental_dup_spans_agg(new_docs, spark.read.parquet(index_path))
        .select(
            "doc_id",
            F.size("spans").alias("n_spans"),
            F.aggregate(
                "spans",
                F.lit(0).cast("long"),
                lambda a, s: a + s["span_end"] - s["span_start"] + 1,
            ).alias("covered"),
            F.array_max(
                F.transform(
                    "spans", lambda s: s["span_end"] - s["span_start"] + 1
                )
            ).alias("max_span"),
        )
        .join(docs.select("doc_id", "source"), "doc_id")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs_with_dup"),
            F.sum("n_spans").cast("long").alias("n_spans"),
            F.sum("covered").cast("long").alias("covered_tokens"),
            F.max("max_span").cast("long").alias("max_span_tokens"),
        )
        .orderBy("source")
    )
