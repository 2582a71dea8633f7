"""Embedding similarity search: brute-force cosine top-k + cell-pruned ANN.

North-star extensions (BASELINE.json) over the `embeddings` table
(embedding: array<float>, 64-dim; label: int).

All dot products run JVM-side via zip_with/aggregate — no Python UDF in the
hot path. Sums are explicit left-to-right double folds so the DuckDB oracle
(sequential list_sum) reproduces them bit-for-bit.

Scale notes (100 TB):
- brute force is O(Q x N): fine for small query sets (the baseline and the
  recall oracle). The query set is broadcast; the corpus is never shuffled —
  score map-side, then per-query top-k via aggregate-style window on the
  (tiny) candidate set.
- the ANN variant prunes by coarse cell (IVF-style): score only within the
  query's cell -> N/cells work per query. Here the cell assignment is the
  pre-assigned `label` (deterministic, so the oracle can replay it); in
  production the cells come from a k-means fit or LSH of the vector.
- top-k uses row_number over (score desc, id asc) on the scored subset, not
  a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from saas_analytics_pipeline_spark.qcatalog import query
from saas_analytics_pipeline_spark.sources import load_table

N_QUERIES = 5
TOP_K = 10

# exact sequential double fold: deterministic across engines
NORM_EXPR = """
    sqrt(aggregate(
        transform({col}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
        CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))
"""

DOT_SQL = """
    list_sum(list_transform(list_zip(q.embedding, c.embedding),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
"""

# Pair-scoring cost model (measured at the sf1 10x point, 2-4M pairs):
# the aggregate/zip_with folds run through Catalyst's interpreted
# higher-order-function machinery — ~dim lambda closures PER PAIR
# (~17 us/pair). Two fixes compose:
#  1. per-VECTOR work (the two norms) moves into the side projections
#     before the pair join — norms per pair is O(pairs) wasted work;
#  2. the per-pair dot uses a size-guarded UNROLLED sum for the corpus
#     dimension: no closures, ~3x faster evaluation. (A pure unrolled
#     expression WITHOUT the guard is a trap: whole-stage codegen emits
#     one giant method that blows the JVM JIT budget and runs in the
#     bytecode interpreter — measured 6x SLOWER than this guarded form.)
# The unrolled left-to-right association is IDENTICAL to the fold's
# ((0.0 + v0) + v1) + ..., so every double — and every DuckDB oracle —
# is bit-identical; any other dimension falls back to the fold.
EMB_FAST_DIM = 64  # the embeddings table's dimension (TESTDATA.md)


def _unrolled_dot(a: str, b: str) -> str:
    return "(" + " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(EMB_FAST_DIM)
    ) + ")"


def norm_col(emb: str) -> F.Column:
    """Per-vector L2 norm (exact sequential fold). Project it on each
    SIDE of a pair join; scoring norms per pair is O(pairs) waste."""
    return F.expr(NORM_EXPR.format(col=emb))


def dot_expr(a: str = "q_emb", b: str = "c_emb") -> F.Column:
    """Guarded dot product of two array<float> columns (see cost model
    above): unrolled for the corpus dimension, fold otherwise."""
    fold_dot = (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return F.expr(
        f"CASE WHEN size({a}) = {EMB_FAST_DIM}"
        f" AND size({b}) = {EMB_FAST_DIM}"
        f" THEN {_unrolled_dot(a, b)} ELSE {fold_dot} END"
    )


def cos_expr(
    a: str = "q_emb",
    b: str = "c_emb",
    a_norm: str | None = None,
    b_norm: str | None = None,
) -> F.Column:
    """Cosine between two array<float> columns. Pass the side-projected
    norm columns (norm_col) on hot pair paths; without them the norms
    are recomputed per pair — correct, but O(pairs) slower."""
    na = (
        F.col(a_norm)
        if a_norm is not None
        else F.expr(NORM_EXPR.format(col=a))
    )
    nb = (
        F.col(b_norm)
        if b_norm is not None
        else F.expr(NORM_EXPR.format(col=b))
    )
    return dot_expr(a, b) / (na * nb)


def _norm_sql(alias: str) -> str:
    return (
        f"sqrt(list_sum(list_transform({alias}.embedding, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )


def cosine_topk(
    queries_df: DataFrame, corpus: DataFrame, k: int = TOP_K
) -> DataFrame:
    """Brute-force cosine top-k: broadcast queries x corpus, JVM-side math.

    queries_df/corpus: (vec_id, embedding). Returns
    (query_id, vec_id, cos, rnk)."""
    q = queries_df.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        norm_col("embedding").alias("qn"),
    )
    c = corpus.select(
        F.col("vec_id"),
        F.col("embedding").alias("c_emb"),
        norm_col("embedding").alias("cn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            cos_expr(a_norm="qn", b_norm="cn").alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "query_id",
            "vec_id",
            F.round("cos", 6).alias("cos_r"),
            "rnk",
        )
    )


@query(
    "q_similarity",
    oracle=f"""
    WITH scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
               {DOT_SQL} / ({_norm_sql('q')} * {_norm_sql('c')}) AS cos
        FROM embeddings q, embeddings c
        WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    )
    SELECT query_id, vec_id, round(cos, 6) AS cos_r, rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, vec_id ASC) AS rnk
        FROM scored
    ) WHERE rnk <= {TOP_K}
    """,
)
def q_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-{TOP_K} for {N_QUERIES} query vectors — the
    exact baseline every ANN variant is measured against."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb.where(F.col("vec_id") < N_QUERIES), emb)


@query(
    "q_similarity_ann",
    oracle=f"""
    WITH scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
               {DOT_SQL} / ({_norm_sql('q')} * {_norm_sql('c')}) AS cos
        FROM embeddings q, embeddings c
        WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
          AND q.label = c.label
    )
    SELECT query_id, vec_id, round(cos, 6) AS cos_r, rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, vec_id ASC) AS rnk
        FROM scored
    ) WHERE rnk <= {TOP_K}
    """,
)
def q_similarity_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style cell-pruned ANN: search only the query's coarse cell
    (cell = pre-assigned label; deterministic for the oracle). At scale:
    corpus partitioned by cell -> per-query work is N/cells; recall traded
    via n_probe cells."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
        norm_col("embedding").alias("qn"),
    )
    c = emb.select(
        "vec_id",
        F.col("embedding").alias("c_emb"),
        "label",
        norm_col("embedding").alias("cn"),
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("q_label") == F.col("label"))
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            cos_expr(a_norm="qn", b_norm="cn").alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TOP_K)
        .select("query_id", "vec_id", F.round("cos", 6).alias("cos_r"), "rnk")
    )


@query(
    "q_dedup_embed",
    oracle=f"""
    WITH pairs AS (
        SELECT a.vec_id AS ida, b.vec_id AS idb,
               list_sum(list_transform(list_zip(a.embedding, b.embedding),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / ({_norm_sql('a')} * {_norm_sql('b')}) AS cos
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT COUNT(*) AS n_pairs_checked,
           COUNT(*) FILTER (WHERE cos >= 0.95) AS n_near_dup,
           round(MAX(cos), 6) AS max_cos
    FROM pairs
    """,
)
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection, blocked by cell so only
    same-cell pairs are scored (the standard scale trick: block, then score
    within blocks)."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("ida"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("la"),
        norm_col("embedding").alias("qn"),
    )
    b = emb.select(
        F.col("vec_id").alias("idb"),
        F.col("embedding").alias("c_emb"),
        F.col("label").alias("lb"),
        norm_col("embedding").alias("cn"),
    )
    pairs = a.join(
        b, (F.col("la") == F.col("lb")) & (F.col("ida") < F.col("idb"))
    ).select(cos_expr(a_norm="qn", b_norm="cn").alias("cos"))
    return pairs.agg(
        F.count("*").alias("n_pairs_checked"),
        F.count(F.when(F.col("cos") >= 0.95, 1)).alias("n_near_dup"),
        F.round(F.max("cos"), 6).alias("max_cos"),
    )


# --------------------------------------------------------------------------
# learned-IVF variant: coarse quantizer fit with Spark ML KMeans
# --------------------------------------------------------------------------
def ivf_fit_assign(corpus: DataFrame, n_cells: int = 8, seed: int = 42):
    """Fit the IVF coarse quantizer (KMeans over the embedding space) and
    assign every corpus vector to its cell.

    Returns (assigned corpus with `cell` column, centroids as a list of
    python float lists). At 100 TB the fit runs on a sample
    (KMeans cost is O(sample x k x dim) per iter) and assignment is one
    map-side pass; the index is then corpus partitioned/bucketed by cell."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = corpus.withColumn("_v", array_to_vector("embedding"))
    model = KMeans(
        k=n_cells, seed=seed, featuresCol="_v", predictionCol="cell"
    ).fit(feat)
    assigned = model.transform(feat).drop("_v")
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centroids


def ivf_topk(
    queries_df: DataFrame,
    assigned: DataFrame,
    centroids: list[list[float]],
    k: int = TOP_K,
    n_probe: int = 2,
) -> DataFrame:
    """IVF search: route each query to its n_probe nearest centroids, score
    cosine only within those cells, per-query top-k.

    Per-query work is ~ n_probe/n_cells of the corpus; the centroid routing
    table is a broadcast literal (n_cells rows)."""
    spark = queries_df.sparkSession
    # pure-JVM VALUES relation: a Python-list frame would launch a Python
    # worker on every downstream action (see seeds.load_seed)
    cent_rows = ", ".join(
        f"({i}, array({', '.join(repr(float(x)) for x in c)}))"
        for i, c in enumerate(centroids)
    )
    cent = spark.sql(
        f"SELECT CAST(cell AS INT) AS cell, centroid "
        f"FROM (VALUES {cent_rows}) AS t(cell, centroid)"
    )
    q = queries_df.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        norm_col("embedding").alias("qn"),
    )
    # route: distance of each query to each centroid, keep n_probe nearest
    l2 = F.expr(
        """
        aggregate(
            zip_with(q_emb, centroid, (x, y) -> (CAST(x AS DOUBLE) - y)
                                               * (CAST(x AS DOUBLE) - y)),
            CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
        """
    )
    wr = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cell"))
    routed = (
        q.crossJoin(F.broadcast(cent))
        .select("query_id", "q_emb", "qn", "cell", l2.alias("d2"))
        .withColumn("cell_rnk", F.row_number().over(wr))
        .where(F.col("cell_rnk") <= n_probe)
        .select("query_id", "q_emb", "qn", "cell")
    )
    c = assigned.select(
        "vec_id",
        F.col("embedding").alias("c_emb"),
        "cell",
        norm_col("embedding").alias("cn"),
    )
    scored = (
        F.broadcast(routed)
        .join(c, "cell")
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            cos_expr(a_norm="qn", b_norm="cn").alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "vec_id", F.round("cos", 6).alias("cos_r"), "rnk")
    )


@query(
    "q_similarity_ivf",
    oracle=f"""
    SELECT COUNT(*) AS n_queries, {TOP_K} AS k,
           1 AS recall_ge_half, 1 AS no_false_rows
    FROM embeddings WHERE vec_id < {N_QUERIES}
    """,
)
def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-IVF ANN: KMeans coarse quantizer + n_probe cell search.

    The learned quantizer (iterative KMeans fit) is not SQL-replayable,
    so the HASHED contract is the property certificate (VERDICT r12
    'missing' #6, q_sketch_error pattern): recall@k of the learned index
    vs the exact brute-force baseline computed IN the query and pinned
    >= 0.5 (the floor tests/test_operators.py measures at n_probe=2 of 8
    cells; the measured curve in docs/PROBES.json sits far above it),
    plus a flag that every IVF hit is a genuine corpus row (inner-join
    containment). The value-exact twin over a PINNED quantizer is
    q_similarity_ivf_pinned; this key certifies the LEARNED variant
    end-to-end with a bound a KMeans seed/partitioning cannot flip.

    Scale: the exact baseline here is the certificate's measuring stick
    at test sf — production runs ivf_topk alone (cells prune the corpus
    to n_probe/n_cells of its rows per query)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    assigned, centroids = ivf_fit_assign(emb)
    approx = ivf_topk(queries, assigned, centroids).select(
        "query_id", "vec_id"
    )
    exact = cosine_topk(queries, emb).select("query_id", "vec_id")
    hits = exact.join(approx, ["query_id", "vec_id"]).count()
    n_exact = exact.count()
    n_approx = approx.count()
    legit = approx.join(
        emb.select("vec_id"), "vec_id"
    ).count()
    return queries.agg(
        F.count("*").alias("n_queries"),
        F.lit(TOP_K).alias("k"),
        F.lit(int(hits * 2 >= n_exact)).alias("recall_ge_half"),
        F.lit(int(legit == n_approx)).alias("no_false_rows"),
    )


@query(
    "q_embedding_centroids",
    oracle="""
    WITH dims AS (
        SELECT label, vec_id,
               unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    ),
    centroids AS (
        SELECT label, pos,
               CAST(SUM(CAST(x AS DECIMAL(20,8))) AS DOUBLE) / COUNT(*) AS c
        FROM dims GROUP BY label, pos
    ),
    dists AS (
        SELECT d.label, d.vec_id,
               sqrt(SUM((CAST(d.x AS DOUBLE) - c.c)
                        * (CAST(d.x AS DOUBLE) - c.c))) AS dist
        FROM dims d JOIN centroids c
          ON d.label = c.label AND d.pos = c.pos
        GROUP BY d.label, d.vec_id
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           round(CAST(AVG(dist) AS DOUBLE), 4) AS avg_dist,
           round(CAST(MAX(dist) AS DOUBLE), 4) AS max_dist
    FROM dists GROUP BY label
    """,
)
def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids + intra-cluster spread: element-wise array
    aggregation via posexplode -> per-(label, dim) mean -> distance of
    each vector to its centroid. Dimension means use exact decimal sums so
    the centroid (and every distance) is identical across engines and
    partitionings — float sums would drift with aggregation order.

    Scale: (vecs x dims) narrow rows shuffle once on (label, dim); the
    centroid table is tiny (labels x dims) and broadcasts back. Distance
    summation groups by (label, vec) — per-vector work, no pairwise
    blowup."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", "vec_id", F.posexplode("embedding").alias("pos", "x")
    )
    centroids = dims.groupBy("label", "pos").agg(
        (
            F.sum(F.col("x").cast("decimal(20,8)")).cast("double")
            / F.count("*")
        ).alias("c")
    )
    diff = F.col("x").cast("double") - F.col("c")
    dists = (
        dims.join(F.broadcast(centroids), ["label", "pos"])
        .groupBy("label", "vec_id")
        .agg(F.sqrt(F.sum(diff * diff)).alias("dist"))
    )
    return dists.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg("dist"), 4).alias("avg_dist"),
        F.round(F.max("dist"), 4).alias("max_dist"),
    )


# --------------------------------------------------------------------------
# random-hyperplane LSH (SimHash-for-cosine) candidate search
# --------------------------------------------------------------------------
EMBED_DIM = 64
RP_PLANES = 16  # sign bits per vector
RP_BANDS = 4  # 4 bands x 4 bits -> 16-value buckets per band


def _rp_signs() -> list[list[float]]:
    """Deterministic Rademacher (+-1) hyperplanes, pinned by md5 so both
    engines share identical literals — no RNG, no engine hash calls."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"rp:{p}:{d}".encode()).hexdigest()[:15], 16) % 2
            == 0
            else -1.0
            for d in range(EMBED_DIM)
        ]
        for p in range(RP_PLANES)
    ]


RP_SIGNS = _rp_signs()


def _rp_bit_spark(p: int) -> str:
    arr = "array(" + ",".join(f"{s}D" for s in RP_SIGNS[p]) + ")"
    return (
        f"CASE WHEN aggregate(zip_with(embedding, {arr}, "
        f"(x, s) -> CAST(x AS DOUBLE) * s), CAST(0.0 AS DOUBLE), "
        f"(a, v) -> a + v) > 0 THEN 1 ELSE 0 END"
    )


def _rp_bit_sql(p: int) -> str:
    arr = "[" + ",".join(str(s) for s in RP_SIGNS[p]) + "]"
    return (
        f"CASE WHEN list_sum(list_transform(list_zip(embedding, {arr}), "
        f"p -> CAST(p[1] AS DOUBLE) * p[2])) > 0 THEN 1 ELSE 0 END"
    )


def _rp_band(bit_of, b: int) -> str:
    """Pack 4 sign bits into one band bucket value (0..15)."""
    return " + ".join(
        f"({bit_of(4 * b + j)}) * {1 << j}" for j in range(4)
    )


@query(
    "q_similarity_rp_lsh",
    oracle=f"""
    WITH sig AS (
        SELECT vec_id,
               unnest([{", ".join(_rp_band(_rp_bit_sql, b) for b in range(RP_BANDS))}])
                   AS band_val,
               unnest([0, 1, 2, 3]) AS band_idx
        FROM embeddings
    ),
    cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id
        FROM sig q JOIN sig c
          ON q.band_idx = c.band_idx AND q.band_val = c.band_val
        WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    ),
    scored AS (
        SELECT cand.query_id, cand.vec_id,
               {DOT_SQL} / ({_norm_sql('q')} * {_norm_sql('c')}) AS cos
        FROM cand
        JOIN embeddings q ON q.vec_id = cand.query_id
        JOIN embeddings c ON c.vec_id = cand.vec_id
    )
    SELECT query_id, vec_id, round(cos, 6) AS cos_r, rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, vec_id ASC) AS rnk
        FROM scored
    ) WHERE rnk <= {TOP_K}
    """,
)
def q_similarity_rp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN: each vector gets {RP_PLANES} sign bits
    (dot against pinned +-1 hyperplanes), packed into {RP_BANDS} band
    buckets; candidates are corpus vectors sharing >= 1 band bucket with
    the query, then exact cosine re-ranks the candidates. The third ANN
    strategy next to cell-pruning (q_similarity_ann) and learned IVF
    (q_similarity_ivf) — this one needs no training pass and no label.

    Scale: signatures are scan-local codegen ({RP_PLANES}x{EMBED_DIM}
    multiply-adds per row); the bucket table shuffles only (vec_id,
    band_idx, band_val) — never embeddings; candidate pairs materialize
    only inside shared buckets (banding tuned so that's ~N/16 per band,
    vs N for brute force); exact scoring re-joins embeddings by id. At
    100 TB raise bits-per-band so buckets stay bounded, and store the
    bucket table sorted by (band_idx, band_val) for co-located joins."""
    emb = load_table(spark, sf_dir, "embeddings")
    bands = F.array(
        *[F.expr(_rp_band(_rp_bit_spark, b)) for b in range(RP_BANDS)]
    )
    sig = emb.select("vec_id", F.posexplode(bands).alias("band_idx", "band_val"))
    q_sig = sig.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "band_idx", "band_val"
    )
    cand = (
        F.broadcast(q_sig)
        .join(sig, ["band_idx", "band_val"])
        .where(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    q_emb = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        norm_col("embedding").alias("qn"),
    )
    c_emb = emb.select(
        "vec_id",
        F.col("embedding").alias("c_emb"),
        norm_col("embedding").alias("cn"),
    )
    scored = (
        cand.join(F.broadcast(q_emb), "query_id")
        .join(c_emb, "vec_id")
        .select(
            "query_id",
            "vec_id",
            cos_expr(a_norm="qn", b_norm="cn").alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TOP_K)
        .select("query_id", "vec_id", F.round("cos", 6).alias("cos_r"), "rnk")
    )


@query(
    "q_embed_norm_stats",
    oracle="""
    WITH norms AS (
        SELECT label,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           round(CAST(SUM(CAST(round(nrm, 8) AS DECIMAL(20,8))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_norm,
           round(MIN(nrm), 6) AS min_norm,
           round(MAX(nrm), 6) AS max_norm,
           CAST(SUM(CASE WHEN nrm < 1e-12 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_degenerate
    FROM norms GROUP BY label
    """,
)
def q_embed_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space health audit: per-label L2-norm distribution
    (avg/min/max) plus degenerate (near-zero) vector counts — the standing
    check that an upstream encoder change didn't silently rescale or
    zero-out a shard before similarity/dedup consume it.

    Determinism: each norm is an IN-ROW sequential fold over the vector
    (identical addend order in both engines — the q_similarity dot-product
    contract); the cross-row average uses round-then-DECIMAL-sum.

    Scale: scan-local per-row math (codegen'd higher-order function, no
    Python), then a |labels|-row aggregate — one tiny shuffle; vectors
    never leave their scan partitions."""
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    norms = emb.select("label", nrm.alias("nrm"))
    return norms.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(
            F.sum(F.round(F.col("nrm"), 8).cast("decimal(20,8)")).cast("double")
            / F.count("*"),
            6,
        ).alias("avg_norm"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
        F.sum(F.when(F.col("nrm") < 1e-12, 1).otherwise(0))
        .cast("long")
        .alias("n_degenerate"),
    )


@query(
    "q_embed_dim_variance",
    oracle="""
    WITH c AS (
        SELECT unnest(list_transform(embedding,
                                     (x, i) -> {'dim': i, 'x': x})) AS cell
        FROM embeddings
    ),
    cells AS (
        SELECT CAST(cell.dim AS BIGINT) AS dim,
               CAST(ROUND(CAST(cell.x AS DOUBLE), 6) AS DECIMAL(18,6)) AS x
        FROM c
    ),
    sums AS (
        SELECT dim, COUNT(*) AS n,
               SUM(x) AS sx,
               SUM(x * x) AS sx2
        FROM cells GROUP BY dim
    )
    SELECT dim,
           CAST(n AS BIGINT) AS n,
           CAST(sx AS DOUBLE) / n AS mean,
           (CAST(sx2 AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / n AS variance
    FROM sums
    """,
)
def q_embed_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance of the embedding matrix — the collapse
    detector for embedding pipelines (a dimension whose variance goes to
    zero carries no information; a drifting mean flags a normalization
    bug). Complements q_embed_norm_stats (per-vector norms) with the
    per-dimension view.

    Determinism: cells round to 6 dp once (float->double is exact in both
    engines) and accumulate as DECIMAL power sums — exact under any
    partitioning; mean/variance are scalar double ops on those exact sums
    (same contract as q_corr_metrics).

    Scale: posexplode emits (dim, value) pairs scan-side; the power sums
    are map-side combinable and the output is |dims| rows. One shuffle,
    no window, no driver collection."""
    emb = load_table(spark, sf_dir, "embeddings")
    cells = emb.select(
        F.posexplode("embedding").alias("pos", "xf")
    ).select(
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.round(F.col("xf").cast("double"), 6).cast("decimal(18,6)").alias("x"),
    )
    sums = cells.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sx2 = F.col("sx2").cast("double")
    return sums.select(
        "dim",
        n.cast("long").alias("n"),
        (sx / n).alias("mean"),
        ((sx2 - sx * sx / n) / n).alias("variance"),
    )


N_ANCHORS = 8  # pinned-IVF coarse cells
N_PROBE = 2  # cells probed per query


def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}.embedding, {b}.embedding), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


@query(
    "q_similarity_ivf_pinned",
    oracle=f"""
    WITH anchors AS (
        SELECT vec_id AS anchor_id, embedding
        FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {N_ANCHORS}
    ),
    assign AS (
        SELECT c.vec_id, a.anchor_id,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                   ORDER BY {_dot_sql('c', 'a')}
                            / ({_norm_sql('c')} * {_norm_sql('a')}) DESC,
                            a.anchor_id ASC) AS rn
        FROM embeddings c CROSS JOIN anchors a
    ),
    cells AS (SELECT vec_id, anchor_id FROM assign WHERE rn = 1),
    probes AS (
        SELECT q.vec_id AS query_id, a.anchor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY {_dot_sql('q', 'a')}
                            / ({_norm_sql('q')} * {_norm_sql('a')}) DESC,
                            a.anchor_id ASC) AS rn
        FROM embeddings q CROSS JOIN anchors a
        WHERE q.vec_id < {N_QUERIES}
    ),
    cand AS (
        SELECT p.query_id, c.vec_id
        FROM probes p
        JOIN cells c ON c.anchor_id = p.anchor_id
        WHERE p.rn <= {N_PROBE} AND c.vec_id <> p.query_id
    ),
    scored AS (
        SELECT cd.query_id, cd.vec_id,
               {_dot_sql('q', 'c')} / ({_norm_sql('q')} * {_norm_sql('c')}) AS cos
        FROM cand cd
        JOIN embeddings q ON q.vec_id = cd.query_id
        JOIN embeddings c ON c.vec_id = cd.vec_id
    )
    SELECT query_id, vec_id, round(cos, 6) AS cos_r, rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, vec_id ASC) AS rnk
        FROM scored
    ) WHERE rnk <= {TOP_K}
    """,
)
def q_similarity_ivf_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with PINNED anchors: the learned-IVF scale path
    (q_similarity_ivf) made fully oracle-replayable by replacing the
    KMeans quantizer with {N_ANCHORS} deterministic anchor vectors (the
    corpus vectors with the smallest md5(vec_id) — a fixed, engine-
    independent rule). Corpus vectors assign to their max-cosine anchor;
    each query probes its top-{N_PROBE} cells and reranks candidates
    exactly. Same shuffle/candidate structure as the learned variant, so
    its correctness (cell routing, probe union, exact rerank, tie-break
    chain) is now hash-verified end-to-end rather than recall-tested.

    Scale: anchors are a {N_ANCHORS}-row broadcast; assignment scores
    corpus x anchors scan-side (bounded {N_ANCHORS}x fan-out collapsed
    map-side by max_by before any shuffle — only (vec_id, anchor_id)
    pairs move); candidates come ONLY from probed cells (~N_PROBE/
    N_ANCHORS of the corpus per query); rerank joins the bounded query
    set by key. Embeddings shuffle once, keyed by cell, exactly like
    production IVF."""
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = pinned_anchors(emb)
    cells = assign_cells(emb, anchors).select("vec_id", "anchor_id")
    q = emb.where(F.col("vec_id") < N_QUERIES)
    return ivf_probe_rerank(q, cells, anchors, emb)


def pinned_anchors(vecs: DataFrame) -> DataFrame:
    """{N_ANCHORS} deterministic anchor vectors: the members of `vecs`
    with the smallest md5(vec_id) — a fixed, engine-independent rule the
    DuckDB oracle replays verbatim.

    r13 (guide §5): the result is localCheckpointed — every IVF query
    consumes the anchor frame 2-4 times (corpus assign, batch assign,
    query probe, rerank) and Spark re-executes shared subplans per
    consumer, so the TakeOrdered scan of the corpus replayed once per
    consumer. {N_ANCHORS} rows; values unchanged. r14 (ADVICE r13):
    eager=False — constructing the DataFrame (plan dumps, dry runs)
    stays lazy; the checkpoint materializes on first action."""
    return (
        vecs.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(N_ANCHORS)
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("embedding").alias("a_emb"),
            norm_col("embedding").alias("an"),
        )
        .localCheckpoint(eager=False)
    )


def assign_cells(vecs: DataFrame, anchors: DataFrame) -> DataFrame:
    """(vec_id, anchor_id, acos): each vector's max-cosine anchor (ties ->
    smallest anchor_id) plus the winning cosine. The map-side assignment
    pass shared by index build (all vectors) and incremental maintenance
    (the new batch only): the bounded {N_ANCHORS}x fan-out collapses via
    max_by BEFORE any shuffle — only (vec_id, anchor_id, acos) triples
    ever move."""
    c = vecs.select(
        "vec_id",
        F.col("embedding").alias("c_emb"),
        norm_col("embedding").alias("cn"),
    )
    return (
        c.crossJoin(F.broadcast(anchors))
        .select(
            "vec_id",
            "anchor_id",
            cos_expr("c_emb", "a_emb", a_norm="cn", b_norm="an").alias("acos"),
        )
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct("anchor_id", "acos"),
                F.struct(F.col("acos"), (-F.col("anchor_id")).alias("na")),
            ).alias("m")
        )
        .select("vec_id", "m.anchor_id", "m.acos")
    )


def ivf_probe_rerank(
    queries_df: DataFrame,
    cells: DataFrame,
    anchors: DataFrame,
    corpus: DataFrame,
) -> DataFrame:
    """Probe + exact rerank against a (vec_id, anchor_id) cell index:
    each query routes to its top-{N_PROBE} anchors, candidates come only
    from those cells, and the bounded candidate set is reranked with
    exact cosine. Shared by the one-shot pinned index and the
    incremental (assign-only) index — the search path is identical, only
    the cell table differs."""
    q = queries_df.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        norm_col("embedding").alias("qn"),
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc("acos"), F.asc("anchor_id")
    )
    probes = (
        q.crossJoin(F.broadcast(anchors))
        .select(
            "query_id",
            "anchor_id",
            cos_expr("q_emb", "a_emb", a_norm="qn", b_norm="an").alias("acos"),
        )
        .withColumn("rn", F.row_number().over(probe_w))
        .where(F.col("rn") <= N_PROBE)
        .select("query_id", "anchor_id")
    )
    cand = (
        cells.join(F.broadcast(probes), "anchor_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    c = corpus.select(
        "vec_id",
        F.col("embedding").alias("c_emb"),
        norm_col("embedding").alias("cn"),
    )
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "vec_id")
        .select(
            "query_id",
            "vec_id",
            cos_expr(a_norm="qn", b_norm="cn").alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TOP_K)
        .select("query_id", "vec_id", F.round("cos", 6).alias("cos_r"), "rnk")
    )


# --------------------------------------------------------------------------
# incremental IVF index maintenance: assign-only batch ingest + drift gauge
# --------------------------------------------------------------------------
IVF_BATCH_MOD = 4  # vec_id % 4 == 0 -> the new daily batch; else the corpus


def anchor_sql_literal(anchors: DataFrame) -> str:
    """Render the pinned anchor set as a SQL array<struct> literal —
    array(named_struct('anchor_id', ..., 'a_emb', array(...), 'an', ...)).

    This is the STREAM-SERVING form of the quantizer: {N_ANCHORS} anchor
    rows materialize to the driver once (the bounded dim-seed precedent,
    seeds.py) and bake into the plan as a constant, so per-row assignment
    is a pure scan-side projection — no join, no shuffle, usable inside a
    Structured Streaming micro-batch where a per-row argmax aggregation
    would otherwise need unbounded keyed state. Exactness: float32
    embedding elements upcast to double exactly, and `an` is the fold
    norm Spark already computed (pinned_anchors), so every downstream
    cosine is bit-identical to assign_cells' and to the DuckDB oracle's."""
    rows = anchors.select("anchor_id", "a_emb", "an").orderBy("anchor_id").collect()
    structs = []
    for r in rows:
        emb = ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in r.a_emb)
        structs.append(
            f"named_struct('anchor_id', CAST({int(r.anchor_id)} AS BIGINT), "
            f"'a_emb', array({emb}), 'an', CAST({float(r.an)!r} AS DOUBLE))"
        )
    return "array(" + ", ".join(structs) + ")"


def row_assign_cells(
    vecs: DataFrame, anchors: DataFrame, keep: list[str] | None = None
) -> DataFrame:
    """Scan-side per-ROW cell assignment against a frozen anchor literal:
    transform the {N_ANCHORS}-element anchor constant into (acos, -id,
    id) structs and take array_max — max cosine, ties to the smallest
    anchor_id, exactly assign_cells' max_by tie-break chain (pinned equal
    in tests/test_operators.py). Returns `keep` + (vec_id, anchor_id,
    acos).

    Scale: zero shuffles and zero state — each row scores {N_ANCHORS}
    anchors in one projection (fold dot == the unrolled/oracle sum
    bit-for-bit, see the cost-model note at the top), which is what lets
    the STREAMING twin (streaming/jobs.py ann_assign_stream) assign
    inside a micro-batch and roll up by event-time window only."""
    arr = anchor_sql_literal(anchors)
    fold_dot = (
        "aggregate(zip_with(embedding, a.a_emb, "
        "(x, y) -> CAST(x AS DOUBLE) * y), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    best = F.expr(
        f"array_max(transform({arr}, a -> named_struct("
        f"'acos', {fold_dot} / (cn * a.an), "
        "'nid', -a.anchor_id, 'aid', a.anchor_id)))"
    )
    keep = keep or []
    return (
        vecs.select(*keep, "vec_id", "embedding", norm_col("embedding").alias("cn"))
        .withColumn("m", best)
        .select(*keep, "vec_id", F.col("m.aid").alias("anchor_id"), F.col("m.acos").alias("acos"))
    )


def _ivf_incr_ctes() -> str:
    """Shared oracle CTEs: persisted-corpus anchors, full cell assignment
    (corpus index + incremental batch assignment are the same per-vector
    argmax, so the oracle assigns the union in one pass)."""
    return f"""
    corpus AS (SELECT * FROM embeddings WHERE vec_id % {IVF_BATCH_MOD} <> 0),
    anchors AS (
        SELECT vec_id AS anchor_id, embedding
        FROM corpus
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {N_ANCHORS}
    ),
    assign AS (
        SELECT c.vec_id, a.anchor_id,
               {_dot_sql('c', 'a')}
                   / ({_norm_sql('c')} * {_norm_sql('a')}) AS acos,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                   ORDER BY {_dot_sql('c', 'a')}
                            / ({_norm_sql('c')} * {_norm_sql('a')}) DESC,
                            a.anchor_id ASC) AS rn
        FROM embeddings c CROSS JOIN anchors a
    ),
    cells AS (SELECT vec_id, anchor_id, acos FROM assign WHERE rn = 1)"""


@query(
    "q_similarity_ivf_incremental",
    oracle=f"""
    WITH {_ivf_incr_ctes()},
    probes AS (
        SELECT q.vec_id AS query_id, a.anchor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY {_dot_sql('q', 'a')}
                            / ({_norm_sql('q')} * {_norm_sql('a')}) DESC,
                            a.anchor_id ASC) AS rn
        FROM embeddings q CROSS JOIN anchors a
        WHERE q.vec_id % {IVF_BATCH_MOD} = 0
          AND q.vec_id < {N_QUERIES * IVF_BATCH_MOD}
    ),
    cand AS (
        SELECT p.query_id, c.vec_id
        FROM probes p
        JOIN cells c ON c.anchor_id = p.anchor_id
        WHERE p.rn <= {N_PROBE} AND c.vec_id <> p.query_id
    ),
    scored AS (
        SELECT cd.query_id, cd.vec_id,
               {_dot_sql('q', 'c')} / ({_norm_sql('q')} * {_norm_sql('c')}) AS cos
        FROM cand cd
        JOIN embeddings q ON q.vec_id = cd.query_id
        JOIN embeddings c ON c.vec_id = cd.vec_id
    )
    SELECT query_id, vec_id, round(cos, 6) AS cos_r, rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, vec_id ASC) AS rnk
        FROM scored
    ) WHERE rnk <= {TOP_K}
    """,
)
def q_similarity_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance: a NEW embedding batch
    (vec_id % {IVF_BATCH_MOD} == 0 — the daily ingest) joins a PERSISTED
    pinned-anchor IVF index (anchors chosen from the corpus side only, so
    the quantizer predates the batch) by assignment alone — no refit, no
    re-clustering, no touch of the corpus assignments. New vectors route
    to their max-cosine anchor exactly like the index build did
    (assign_cells — the shared per-vector argmax), the merged cell table
    is corpus-cells UNION batch-cells, and the batch's own first
    {N_QUERIES} vectors then query the merged index (probe top-{N_PROBE}
    cells, exact rerank) — the production RAG-ingest shape: embed today's
    documents, attach them to the serving index, and verify they are
    immediately searchable. The per-cell drift gauge that decides when a
    refit IS due is the companion key q_ivf_cell_drift.

    Scale: the corpus side of the cell table is a persisted (vec_id,
    anchor_id) index in production — recomputed here because the test
    lake stores no derived state (same note as q_dedup_lsh_incremental).
    The incremental cost is one map-side argmax over |batch| x
    {N_ANCHORS} (measured assign-only vs refit in tools/ann_probe.py);
    nothing corpus-sized recomputes, shuffles, or re-clusters.

    Reference scope: the reference declares no vector search; this is the
    north-star extension surface (BASELINE.json)."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") % IVF_BATCH_MOD != 0)
    batch = emb.where(F.col("vec_id") % IVF_BATCH_MOD == 0)
    anchors = pinned_anchors(corpus)
    # production: persisted index read back from the lake.
    # r14 (guide §2.4): assignment via row_assign_cells — the scan-side
    # argmax against the frozen anchor LITERAL (the stream-serving form;
    # per-row max equal to assign_cells' max_by, pinned in
    # tests/test_operators.py) — so neither the corpus-index rebuild nor
    # the batch assignment shuffles a (vec_id, anchor_id) triple set:
    # the two assignment Exchanges drop out of the plan and the cell
    # table feeds the probe join straight off the scans.
    corpus_cells = row_assign_cells(corpus, anchors).select(
        "vec_id", "anchor_id"
    )
    # the incremental step: assign-only, against the SAME frozen anchors
    batch_cells = row_assign_cells(batch, anchors).select(
        "vec_id", "anchor_id"
    )
    cells = corpus_cells.unionByName(batch_cells)
    q = batch.where(F.col("vec_id") < N_QUERIES * IVF_BATCH_MOD)
    return ivf_probe_rerank(q, cells, anchors, emb)


def _drift_oracle() -> str:
    """The drift-gauge oracle, shared byte-identically by
    q_ivf_cell_drift (one-shot batch assignment) and q_ann_maintenance
    (the wired micro-batch loop incl. arrivals folding) — the two keys
    MUST hash the same because folding preserves the cells union."""
    return f"""
    WITH {_ivf_incr_ctes()},
    tagged AS (
        SELECT anchor_id, vec_id % {IVF_BATCH_MOD} = 0 AS is_batch,
               CAST(round(acos, 6) AS DECIMAL(18,6)) AS acos_r
        FROM cells
    ),
    per_cell AS (
        SELECT anchor_id,
               COUNT(*) FILTER (WHERE NOT is_batch) AS n_corpus,
               COUNT(*) FILTER (WHERE is_batch) AS n_batch,
               round(CAST(SUM(acos_r) FILTER (WHERE NOT is_batch) AS DOUBLE)
                     / COUNT(*) FILTER (WHERE NOT is_batch), 6)
                   AS avg_cos_corpus,
               round(CAST(SUM(acos_r) FILTER (WHERE is_batch) AS DOUBLE)
                     / COUNT(*) FILTER (WHERE is_batch), 6)
                   AS avg_cos_batch
        FROM tagged GROUP BY anchor_id
    )
    SELECT anchor_id, n_corpus, n_batch,
           round(n_batch * 100.0 / n_corpus, 2) AS growth_pct,
           avg_cos_corpus, avg_cos_batch,
           round(avg_cos_corpus - avg_cos_batch, 6) AS drift,
           CASE WHEN round(n_batch * 100.0 / n_corpus, 2) > 50.0
                  OR avg_cos_batch < avg_cos_corpus - 0.05
                THEN 1 ELSE 0 END AS recluster
    FROM per_cell ORDER BY anchor_id
    """


@query("q_ivf_cell_drift", oracle=_drift_oracle())
def q_ivf_cell_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell drift gauge — the re-cluster trigger for the incremental
    IVF index (q_similarity_ivf_incremental): for every pinned-anchor
    cell, how many corpus vs new-batch vectors it holds, how well each
    side matches its anchor (mean assignment cosine), and whether the
    cell has drifted enough to schedule a refit (batch growth > 50% of
    the corpus cell, or the batch's mean anchor cosine more than 0.05
    below the corpus's — new data the frozen quantizer routes poorly).

    Exactness: per-row cosines round to 6 decimals and sum as
    DECIMAL(18,6) — an exact, order-independent aggregate (the
    embedding-audit pattern) — so the means hash-match the oracle without
    depending on double summation order.

    Scale: input is the (vec_id, anchor_id, acos) assignment table (the
    persisted index + the batch assignment — nothing embedding-sized);
    one {N_ANCHORS}-group rollup, fully partial-aggregable."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") % IVF_BATCH_MOD != 0)
    batch = emb.where(F.col("vec_id") % IVF_BATCH_MOD == 0)
    anchors = pinned_anchors(corpus)
    cells = assign_cells(corpus, anchors).unionByName(
        assign_cells(batch, anchors)
    )
    return cell_drift_gauge(cells)


@query("q_ann_maintenance", oracle=_drift_oracle())
def q_ann_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WIRED ANN maintenance loop, driver-certified end to end
    (r09): the exact foreachBatch body streaming/jobs.run_ann_maintenance
    executes — ann_apply_batch — applied over TWO micro-batches of the
    ingest vectors against a persisted corpus index, including the
    per-batch arrivals subdirs, the atomic refit publish, and the
    arrivals-into-cells FOLD (compaction). The returned frame is the
    drift gauge over the loop's live cells state, and the oracle is
    q_ivf_cell_drift's byte-identical SQL — the hash certifies the
    folding invariant: published cells + unfolded arrivals ==
    corpus + every arrival, no matter how the stream was batched or
    when compaction fired.

    Scale: per batch |batch| x N_ANCHORS scan-local argmax + one
    |anchors|-row gauge; the fold rewrites the assignment table only at
    refit cadence, so maintenance state is bounded by drift, not stream
    lifetime (the production IVF lifecycle, crash matrix in
    tests/test_streaming.py)."""
    import os

    from saas_analytics_pipeline_spark.scratch import fresh_scratch
    from saas_analytics_pipeline_spark.streaming.jobs import (
        ann_apply_batch,
        ann_live_cells,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") % IVF_BATCH_MOD != 0)
    batch = emb.where(F.col("vec_id") % IVF_BATCH_MOD == 0)
    anchors = pinned_anchors(corpus)
    state = fresh_scratch("saas_ann_maint", sf_dir)
    corpus_cells = os.path.join(state, "corpus_cells")
    assign_cells(corpus, anchors).select(
        "vec_id", "anchor_id", "acos"
    ).write.parquet(corpus_cells)
    markers = os.path.join(state, "markers")
    os.makedirs(markers)
    for i, pred in enumerate(
        (
            F.col("vec_id") % (2 * IVF_BATCH_MOD) == 0,
            F.col("vec_id") % (2 * IVF_BATCH_MOD) != 0,
        )
    ):
        ann_apply_batch(
            batch.where(pred).select("vec_id", "embedding"),
            i,
            anchors,
            corpus_cells,
            emb,
            state,
            markers,
        )
    return cell_drift_gauge(ann_live_cells(spark, corpus_cells, state))


def cell_drift_gauge(cells: DataFrame) -> DataFrame:
    """The per-cell drift gauge over an assignment table (vec_id,
    anchor_id, acos) — q_ivf_cell_drift's body, shared with the
    streaming maintenance trigger (streaming/jobs.run_ann_maintenance),
    which recomputes it per micro-batch over persisted-index +
    accumulated-arrival rows and fires the partial refit when any cell
    sets ``recluster``. Batch rows are vec_id % IVF_BATCH_MOD == 0 (the
    ingest-side convention everywhere in this module)."""
    tagged = cells.select(
        "anchor_id",
        (F.col("vec_id") % IVF_BATCH_MOD == 0).alias("is_batch"),
        F.round("acos", 6).cast("decimal(18,6)").alias("acos_r"),
    )
    corpus_sum = F.sum(F.when(~F.col("is_batch"), F.col("acos_r")))
    batch_sum = F.sum(F.when(F.col("is_batch"), F.col("acos_r")))
    n_corpus = F.count(F.when(~F.col("is_batch"), F.lit(1)))
    n_batch = F.count(F.when(F.col("is_batch"), F.lit(1)))
    per_cell = tagged.groupBy("anchor_id").agg(
        n_corpus.alias("n_corpus"),
        n_batch.alias("n_batch"),
        F.round(corpus_sum.cast("double") / n_corpus, 6).alias(
            "avg_cos_corpus"
        ),
        F.round(batch_sum.cast("double") / n_batch, 6).alias("avg_cos_batch"),
    )
    growth = F.round(F.col("n_batch") * 100.0 / F.col("n_corpus"), 2)
    return per_cell.select(
        "anchor_id",
        "n_corpus",
        "n_batch",
        growth.alias("growth_pct"),
        "avg_cos_corpus",
        "avg_cos_batch",
        F.round(F.col("avg_cos_corpus") - F.col("avg_cos_batch"), 6).alias(
            "drift"
        ),
        F.when(
            (growth > 50.0)
            | (F.col("avg_cos_batch") < F.col("avg_cos_corpus") - 0.05),
            1,
        )
        .otherwise(0)
        .alias("recluster"),
    ).orderBy("anchor_id")


# --------------------------------------------------------------------------
# drift-TRIGGERED partial refit: re-cluster only the worst cells
# (the reaction to q_ivf_cell_drift's flag)
# --------------------------------------------------------------------------
REFIT_K = 3  # refit budget: cells re-clustered per maintenance cycle
REFIT_SPLIT = 2  # sub-anchors a refitted cell splits into


def _refit_oracle() -> str:
    dec = "CAST(round(acos, 6) AS DECIMAL(18,6))"
    mod = IVF_BATCH_MOD
    return f"""
    WITH {_ivf_incr_ctes()},
    per_cell AS (
        SELECT anchor_id,
               COUNT(*) AS n_members,
               round(CAST(SUM({dec}) AS DOUBLE) / COUNT(*), 6) AS avg_before,
               round(round(CAST(SUM({dec}) FILTER (WHERE vec_id % {mod} <> 0) AS DOUBLE)
                     / NULLIF(COUNT(*) FILTER (WHERE vec_id % {mod} <> 0), 0), 6)
                   - round(CAST(SUM({dec}) FILTER (WHERE vec_id % {mod} = 0) AS DOUBLE)
                     / NULLIF(COUNT(*) FILTER (WHERE vec_id % {mod} = 0), 0), 6), 6)
                   AS drift
        FROM cells GROUP BY anchor_id
    ),
    flagged AS (
        SELECT anchor_id FROM (
            SELECT anchor_id,
                   ROW_NUMBER() OVER (ORDER BY drift DESC NULLS LAST,
                                      anchor_id ASC) AS rn
            FROM per_cell
        ) WHERE rn <= {REFIT_K}
    ),
    members AS (
        SELECT c.vec_id, c.anchor_id FROM cells c
        JOIN flagged f ON f.anchor_id = c.anchor_id
    ),
    subanchors AS (
        SELECT anchor_id AS parent, vec_id AS new_anchor FROM (
            SELECT anchor_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY anchor_id
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
            FROM members
        ) WHERE rn <= {REFIT_SPLIT}
    ),
    rescored AS (
        SELECT m.anchor_id AS parent, m.vec_id, s.new_anchor,
               {{DOT}} / ({{MNORM}} * {{SNORM}}) AS acos,
               ROW_NUMBER() OVER (PARTITION BY m.vec_id
                   ORDER BY {{DOT}} / ({{MNORM}} * {{SNORM}}) DESC,
                            s.new_anchor ASC) AS rn
        FROM members m
        JOIN subanchors s ON s.parent = m.anchor_id
        JOIN embeddings me ON me.vec_id = m.vec_id
        JOIN embeddings se ON se.vec_id = s.new_anchor
    ),
    split_cells AS (
        SELECT parent, new_anchor, 1 AS is_split,
               COUNT(*) AS n_members,
               round(CAST(SUM({dec}) AS DOUBLE) / COUNT(*), 6) AS avg_acos
        FROM rescored WHERE rn = 1 GROUP BY parent, new_anchor
    ),
    untouched AS (
        SELECT c.anchor_id AS parent, c.anchor_id AS new_anchor, 0 AS is_split,
               COUNT(*) AS n_members,
               round(CAST(SUM({dec}) AS DOUBLE) / COUNT(*), 6) AS avg_acos
        FROM cells c
        WHERE c.anchor_id NOT IN (SELECT anchor_id FROM flagged)
        GROUP BY c.anchor_id
    ),
    unioned AS (
        SELECT * FROM split_cells UNION ALL SELECT * FROM untouched
    )
    SELECT u.parent AS parent_anchor, u.new_anchor, u.is_split, u.n_members,
           u.avg_acos, round(u.avg_acos - p.avg_before, 6) AS improve
    FROM unioned u JOIN per_cell p ON p.anchor_id = u.parent
    ORDER BY parent_anchor, new_anchor
    """.replace(
        "{DOT}", _dot_sql("me", "se")
    ).replace("{MNORM}", _norm_sql("me")).replace("{SNORM}", _norm_sql("se"))


@query("q_ivf_refit_partial", oracle=_refit_oracle())
def q_ivf_refit_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift-TRIGGERED partial index refit — the reaction to
    q_ivf_cell_drift's flag that completes the incremental-ANN
    maintenance loop (ingest: q_similarity_ivf_incremental; gauge:
    q_ivf_cell_drift; repair: this). The {REFIT_K} most-drifted cells
    (largest corpus-vs-batch mean-cosine gap, the gauge's drift metric;
    ties and null-drift cells rank last by anchor_id — a refit BUDGET,
    the production knob) each split into {REFIT_SPLIT} sub-cells:
    sub-anchors are the cell's own md5-min members (the pinned_anchors
    rule applied locally, so the refit is deterministic and
    oracle-replayable), and ONLY the flagged cells' members reassign —
    every other cell's assignments are untouched, which is the entire
    point of partial maintenance. Output: one row per post-refit cell
    with its membership, mean assignment cosine, and the improvement vs
    the cell's pre-refit mean (untouched cells improve by exactly 0).

    Scale: the drift ranking reads the per-cell gauge ({N_ANCHORS}
    rows); the flagged set ({REFIT_K} ids) broadcasts into a semi-join
    on the persisted (vec_id, anchor_id) index, so the embedding scan
    touches only flagged members (in production the index is partitioned
    by cell — partition-pruned reads); reassignment is a broadcast join
    against {REFIT_K}x{REFIT_SPLIT} sub-anchor rows collapsed map-side
    by max_by. Nothing corpus-sized shuffles; refit cost is proportional
    to the flagged cells' membership, not the index.

    Reference scope: the reference declares no vector search; this is
    the north-star extension surface (BASELINE.json)."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") % IVF_BATCH_MOD != 0)
    batch = emb.where(F.col("vec_id") % IVF_BATCH_MOD == 0)
    anchors = pinned_anchors(corpus)
    cells = assign_cells(corpus, anchors).unionByName(
        assign_cells(batch, anchors)
    )
    return refit_partial(cells, emb)


def refit_partial(cells: DataFrame, emb: DataFrame) -> DataFrame:
    """The budgeted partial refit over an assignment table (vec_id,
    anchor_id, acos) + the embedding source — q_ivf_refit_partial's
    body, shared with the streaming maintenance job
    (streaming/jobs.run_ann_maintenance), which calls it on
    persisted-index + accumulated-arrival rows whenever the live gauge
    flags a cell. Batch rows are vec_id % IVF_BATCH_MOD == 0."""
    acos_dec = F.round("acos", 6).cast("decimal(18,6)")
    is_corpus = F.col("vec_id") % IVF_BATCH_MOD != 0
    corpus_sum = F.sum(F.when(is_corpus, acos_dec))
    batch_sum = F.sum(F.when(~is_corpus, acos_dec))
    n_corpus = F.count(F.when(is_corpus, F.lit(1)))
    n_batch = F.count(F.when(~is_corpus, F.lit(1)))
    per_cell = cells.groupBy("anchor_id").agg(
        F.count("*").alias("n_members"),
        F.round(F.sum(acos_dec).cast("double") / F.count("*"), 6).alias(
            "avg_before"
        ),
        F.round(
            F.round(
                corpus_sum.cast("double") / F.nullif(n_corpus, F.lit(0)), 6
            )
            - F.round(
                batch_sum.cast("double") / F.nullif(n_batch, F.lit(0)), 6
            ),
            6,
        ).alias("drift"),
    )
    rank_w = Window.orderBy(F.desc_nulls_last("drift"), F.asc("anchor_id"))
    flagged = (
        per_cell.withColumn("rn", F.row_number().over(rank_w))
        .where(F.col("rn") <= REFIT_K)
        .select("anchor_id")
    )
    members = cells.join(F.broadcast(flagged), "anchor_id").select(
        "vec_id", "anchor_id", "acos"
    )
    sub_w = Window.partitionBy("anchor_id").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    subanchor_ids = (
        members.withColumn("rn", F.row_number().over(sub_w))
        .where(F.col("rn") <= REFIT_SPLIT)
        .select(F.col("anchor_id").alias("parent"), F.col("vec_id").alias("new_anchor"))
    )
    subanchors = subanchor_ids.join(
        emb.select(F.col("vec_id").alias("new_anchor"), F.col("embedding").alias("s_emb")),
        "new_anchor",
    ).select("parent", "new_anchor", "s_emb", norm_col("s_emb").alias("sn"))
    members_emb = members.select(
        "vec_id", F.col("anchor_id").alias("parent")
    ).join(emb.select("vec_id", F.col("embedding").alias("m_emb")), "vec_id")
    rescored = (
        members_emb.withColumn("mn", norm_col("m_emb"))
        .join(F.broadcast(subanchors), "parent")
        .select(
            "parent",
            "vec_id",
            "new_anchor",
            cos_expr("m_emb", "s_emb", a_norm="mn", b_norm="sn").alias("acos"),
        )
    )
    pick = (
        rescored.groupBy("parent", "vec_id")
        .agg(
            F.max_by(
                F.struct("new_anchor", "acos"),
                F.struct(F.col("acos"), (-F.col("new_anchor")).alias("nn")),
            ).alias("m")
        )
        .select("parent", "m.new_anchor", "m.acos")
    )
    split_cells = pick.groupBy("parent", "new_anchor").agg(
        F.count("*").alias("n_members"),
        F.round(F.sum(acos_dec).cast("double") / F.count("*"), 6).alias(
            "avg_acos"
        ),
    ).select("parent", "new_anchor", F.lit(1).alias("is_split"), "n_members", "avg_acos")
    untouched = (
        cells.join(F.broadcast(flagged), "anchor_id", "left_anti")
        .groupBy("anchor_id")
        .agg(
            F.count("*").alias("n_members"),
            F.round(F.sum(acos_dec).cast("double") / F.count("*"), 6).alias(
                "avg_acos"
            ),
        )
        .select(
            F.col("anchor_id").alias("parent"),
            F.col("anchor_id").alias("new_anchor"),
            F.lit(0).alias("is_split"),
            "n_members",
            "avg_acos",
        )
    )
    unioned = split_cells.unionByName(untouched)
    return (
        unioned.join(
            F.broadcast(per_cell.select(F.col("anchor_id").alias("parent"), "avg_before")),
            "parent",
        )
        .select(
            F.col("parent").alias("parent_anchor"),
            "new_anchor",
            "is_split",
            "n_members",
            "avg_acos",
            F.round(F.col("avg_acos") - F.col("avg_before"), 6).alias("improve"),
        )
        .orderBy("parent_anchor", "new_anchor")
    )
