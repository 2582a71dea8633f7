"""Pipeline audits: ABC classification, basket lift, sketch
precision/recall, label-vs-centroid disagreement, partition-volume
anomalies, vocabulary coverage, watermark-drop accounting.

Extends the declared DQ/ops surface (`/root/reference/README.md:54-59`,
late-data rule `data_gen/pseudo_code_rules.txt:11-20`) with the audit
queries that gate pipeline decisions: which SKUs matter (ABC), whether a
sketch is trustworthy at its operating threshold (MinHash P/R), whether
labels agree with embedding geometry, whether a day's load volume is
anomalous, how much of the stream a given watermark would drop.

Determinism: every threshold compare is an INTEGER cross-multiplication
(no float comparisons anywhere a boundary could flip between engines);
cross-row float reductions are either exact BIGINT/DECIMAL sums or
round-then-aggregate.

Scale notes (100 TB): global windows only ever run over dim-grain
aggregates (parts, days, labels); pair joins are keyed (order, band,
pos) so fan-out is bounded per key; everything else is scan-local +
one keyed shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from saas_analytics_pipeline_spark.operators.dedup import (
    N_PERM,
    SHINGLE_W,
    SHINGLES_SQL,
    _mins_sql,
    minhash_signatures,
)
from saas_analytics_pipeline_spark.functions import hash60_sql, window_hashes
from saas_analytics_pipeline_spark.qcatalog import query
from saas_analytics_pipeline_spark.sources import load_table


@query(
    "q_abc_analysis",
    oracle="""
    WITH per_part AS (
        SELECT l_partkey,
               SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                   * (10000 - CAST(round(l_discount * 10000, 0) AS BIGINT)))
                   AS rev6
        FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
        SELECT l_partkey, rev6,
               SUM(rev6) OVER (ORDER BY rev6 DESC, l_partkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(rev6) OVER () AS total
        FROM per_part
    ),
    classed AS (
        SELECT rev6,
               CASE WHEN cum * 100 <= total * 80 THEN 'A'
                    WHEN cum * 100 <= total * 95 THEN 'B'
                    ELSE 'C' END AS abc_class,
               total
        FROM ranked
    )
    SELECT abc_class, COUNT(*) AS n_parts,
           round(CAST(SUM(rev6) AS DOUBLE) / CAST(MAX(total) AS DOUBLE), 6)
               AS rev_share
    FROM classed GROUP BY abc_class ORDER BY abc_class
    """,
)
def q_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of parts by revenue: A = parts covering
    the first 80% of cumulative revenue, B to 95%, C the tail — the
    inventory-policy mart (q_pareto's actionable sibling).

    Scale: the fact collapses to part grain first (exact integer 1e-6
    units, BIGINT per-part partials bounded by lines-per-part); the
    cumulative window runs over the |parts|-row aggregate — dim-sized,
    range-sort at 100 TB. Class boundaries are exact integer
    cross-multiplies (cum*5 <= total*4 for the 80% cut, cum*20 <=
    total*19 for 95%), so no float compare can flip a part's class
    between engines. Per-part rev6 stays well under the long ceiling
    (< 1.2e11 per line x bounded lines/part), but the CUMULATIVE and
    TOTAL sums span the whole fact (~1e22 micro-units at 100 TB), so the
    window sums and the class rollup run in DECIMAL(38,0) — same combine
    as q_tpch_pricing / q_join_payments_orders."""
    li = load_table(spark, sf_dir, "lineitem")
    pc = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    d4 = F.round(F.col("l_discount") * 10000, 0).cast("bigint")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(pc * (10000 - d4)).alias("rev6")
    )
    wcum = Window.orderBy(F.desc("rev6"), "l_partkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    rev_dec = F.col("rev6").cast("decimal(38,0)")
    ranked = per_part.select(
        "rev6",
        F.sum(rev_dec).over(wcum).alias("cum"),
        F.sum(rev_dec).over(wall).alias("total"),
    )
    classed = ranked.select(
        "rev6",
        "total",
        F.when(F.col("cum") * 5 <= F.col("total") * 4, "A")
        .when(F.col("cum") * 20 <= F.col("total") * 19, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(
                F.sum(rev_dec).cast("double")
                / F.max("total").cast("double"),
                6,
            ).alias("rev_share"),
        )
        .orderBy("abc_class")
    )


@query(
    "q_basket_lift",
    oracle="""
    WITH lines AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        WHERE l_orderkey % 10 = 0
    ),
    totals AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM lines),
    per_part AS (SELECT l_partkey, COUNT(*) AS n_p FROM lines GROUP BY 1),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS n_ab
        FROM lines a JOIN lines b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT part_a, part_b, n_ab,
           round(CAST(n_ab * t.n_orders AS DOUBLE)
                 / CAST(pa.n_p * pb.n_p AS DOUBLE), 6) AS lift,
           round(CAST(n_ab AS DOUBLE) / CAST(pa.n_p AS DOUBLE), 6)
               AS confidence
    FROM pairs
    JOIN per_part pa ON pa.l_partkey = part_a
    JOIN per_part pb ON pb.l_partkey = part_b
    CROSS JOIN totals t
    ORDER BY lift DESC, part_a, part_b LIMIT 20
    """,
)
def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association strength: lift = P(a,b)/(P(a)P(b)) and
    confidence for co-purchased part pairs — q_basket_pairs upgraded from
    co-occurrence counts to the association metrics a recommender
    actually thresholds on.

    Scale: the pair join stays keyed on the order (fan-out bounded by
    lines-per-order²); lift derives from four exact BIGINT counts with
    ONE rounded double division per surviving pair — probabilities never
    materialize. Per-part counts are a map-side aggregate joined back;
    the 1-row total broadcasts; top-20 is TakeOrderedAndProject."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 10 == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    totals = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    per_part = li.groupBy("l_partkey").agg(F.count("*").alias("n_p"))
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "k")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= 2)
    )
    pa = per_part.select(
        F.col("l_partkey").alias("part_a"), F.col("n_p").alias("na")
    )
    pb = per_part.select(
        F.col("l_partkey").alias("part_b"), F.col("n_p").alias("nb")
    )
    return (
        pairs.join(pa, "part_a")
        .join(pb, "part_b")
        .crossJoin(F.broadcast(totals))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.round(
                (F.col("n_ab") * F.col("n_orders")).cast("double")
                / (F.col("na") * F.col("nb")).cast("double"),
                6,
            ).alias("lift"),
            F.round(
                F.col("n_ab").cast("double") / F.col("na").cast("double"), 6
            ).alias("confidence"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(20)
    )


def _minhash_pr_oracle() -> str:
    eq_terms = " + ".join(
        f"CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END" for j in range(N_PERM)
    )
    return f"""
    WITH sh AS (
        SELECT doc_id, unnest({SHINGLES_SQL}) AS shingle
        FROM documents WHERE doc_id % 10 = 0
    ),
    hashed AS (SELECT doc_id, {hash60_sql('shingle')} AS h FROM sh),
    sig AS (SELECT doc_id, {_mins_sql()} FROM hashed GROUP BY doc_id),
    dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id),
    est AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb,
               CAST({eq_terms} AS BIGINT) AS eq
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT x.doc_id AS ida, y.doc_id AS idb, COUNT(*) AS n_inter
        FROM dsh x JOIN dsh y
          ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        GROUP BY 1, 2
    ),
    judged AS (
        SELECT (e.eq * 2 >= {N_PERM}) AS pred,
               (COALESCE(i.n_inter, 0) * 3 >= za.n + zb.n) AS truth
        FROM est e
        LEFT JOIN inter i ON e.ida = i.ida AND e.idb = i.idb
        JOIN sizes za ON e.ida = za.doc_id
        JOIN sizes zb ON e.idb = zb.doc_id
    )
    SELECT COUNT(*) FILTER (WHERE pred AND truth) AS tp,
           COUNT(*) FILTER (WHERE pred AND NOT truth) AS fp,
           COUNT(*) FILTER (WHERE NOT pred AND truth) AS fn,
           round(CAST(COUNT(*) FILTER (WHERE pred AND truth) AS DOUBLE)
                 / NULLIF(COUNT(*) FILTER (WHERE pred), 0), 6) AS precision,
           round(CAST(COUNT(*) FILTER (WHERE pred AND truth) AS DOUBLE)
                 / NULLIF(COUNT(*) FILTER (WHERE truth), 0), 6) AS recall
    FROM judged
    """


@query("q_minhash_pr", oracle=_minhash_pr_oracle())
def q_minhash_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash operating-point audit: precision/recall of the signature
    estimate against exact shingle Jaccard AT THE DEDUP THRESHOLD (0.5)
    over the validation slice — q_sketch_error reports mean error; this
    reports the confusion counts that actually decide whether the sketch
    is safe to act on.

    Determinism: both classifications are integer cross-multiplies
    (eq*2 >= {N_PERM}; 3*inter >= |A|+|B|), so no boundary pair can flip
    between engines. Scale: the validation slice is a bounded sample by
    construction; production-side P/R re-estimates on a slice, never the
    corpus."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 10 == 0
    )
    sig = minhash_signatures(docs)
    # r13 (guide §1.2): pre-split text once (the old inline expr re-split
    # the doc per shingle position inside the lambda) and key the exact-
    # Jaccard self-join on xxhash64 longs instead of raw shingle strings
    # (intersection counts are collision-free-identical; the minhash
    # SIGNATURE side keeps hash60 — its values are oracle-replicated)
    sh = docs.select("doc_id", F.split("text", " ").alias("_toks")).select(
        "doc_id",
        F.explode(
            F.array_distinct(window_hashes(F.col("_toks"), SHINGLE_W))
        ).alias("shingle"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    x = sh.select(F.col("doc_id").alias("ida"), "shingle")
    y = sh.select(F.col("doc_id").alias("idb"), "shingle")
    inter = (
        x.join(y, (x.shingle == y.shingle) & (F.col("ida") < F.col("idb")))
        .groupBy("ida", "idb")
        .agg(F.count("*").alias("n_inter"))
    )
    eq = sum(
        F.when(F.col(f"a_mh{j}") == F.col(f"b_mh{j}"), 1).otherwise(0)
        for j in range(N_PERM)
    )
    a = sig.select(
        F.col("doc_id").alias("ida"),
        *[F.col(f"mh{j}").alias(f"a_mh{j}") for j in range(N_PERM)],
    )
    b = sig.select(
        F.col("doc_id").alias("idb"),
        *[F.col(f"mh{j}").alias(f"b_mh{j}") for j in range(N_PERM)],
    )
    est = a.join(b, F.col("ida") < F.col("idb")).select(
        "ida", "idb", eq.cast("bigint").alias("eq")
    )
    za = sizes.select(F.col("doc_id").alias("ida"), F.col("n").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("idb"), F.col("n").alias("nb"))
    judged = (
        est.join(inter, ["ida", "idb"], "left")
        .join(za, "ida")
        .join(zb, "idb")
        .select(
            (F.col("eq") * 2 >= N_PERM).alias("pred"),
            (
                F.coalesce("n_inter", F.lit(0)) * 3
                >= F.col("na") + F.col("nb")
            ).alias("truth"),
        )
    )
    tp = F.count(F.when(F.col("pred") & F.col("truth"), 1))
    fp = F.count(F.when(F.col("pred") & ~F.col("truth"), 1))
    fn = F.count(F.when(~F.col("pred") & F.col("truth"), 1))
    npred = F.count(F.when(F.col("pred"), 1))
    ntruth = F.count(F.when(F.col("truth"), 1))
    return judged.agg(
        tp.alias("tp"),
        fp.alias("fp"),
        fn.alias("fn"),
        F.round(
            tp.cast("double") / F.nullif(npred, F.lit(0)), 6
        ).alias("precision"),
        F.round(
            tp.cast("double") / F.nullif(ntruth, F.lit(0)), 6
        ).alias("recall"),
    )


@query(
    "q_label_disagreement",
    oracle="""
    WITH dims AS (
        SELECT label, vec_id,
               unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    ),
    centroids AS (
        SELECT label AS clabel, pos,
               CAST(SUM(CAST(x AS DECIMAL(20,8))) AS DOUBLE) / COUNT(*) AS c
        FROM dims GROUP BY label, pos
    ),
    dists AS (
        SELECT d.vec_id, d.label, cc.clabel,
               round(SUM((CAST(d.x AS DOUBLE) - cc.c)
                         * (CAST(d.x AS DOUBLE) - cc.c)), 6) AS d2
        FROM dims d JOIN centroids cc ON d.pos = cc.pos
        GROUP BY d.vec_id, d.label, cc.clabel
    ),
    assigned AS (
        SELECT vec_id, label, clabel,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2, clabel) AS rn
        FROM dists
    )
    SELECT label, COUNT(*) AS n_vecs,
           COUNT(*) FILTER (WHERE clabel <> label) AS n_disagree,
           round(CAST(COUNT(*) FILTER (WHERE clabel <> label) AS DOUBLE)
                 / COUNT(*), 6) AS disagree_rate
    FROM assigned WHERE rn = 1
    GROUP BY label ORDER BY label
    """,
)
def q_label_disagreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise audit: share of vectors whose NEAREST label centroid is
    not their own label — embedding geometry disagreeing with the
    annotation, the standard first-pass mislabel detector for a training
    set.

    Scale: centroids are (labels x dims) rows — tiny, broadcast back; the
    per-vector distance fan-out is vecs x labels x dims narrow rows,
    linear in corpus size with a bounded |labels| factor (the coarse
    quantizer's cell count). Distances round to 6 dp BEFORE the argmin so
    dim-summation order cannot flip a tie; ties break on label. Exact
    decimal centroid sums keep the geometry bit-identical across
    engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", "vec_id", F.posexplode("embedding").alias("pos", "x")
    )
    centroids = dims.groupBy(F.col("label").alias("clabel"), "pos").agg(
        (
            F.sum(F.col("x").cast("decimal(20,8)")).cast("double")
            / F.count("*")
        ).alias("c")
    )
    diff = F.col("x").cast("double") - F.col("c")
    dists = (
        dims.join(F.broadcast(centroids), "pos")
        .groupBy("vec_id", "label", "clabel")
        .agg(F.round(F.sum(diff * diff), 6).alias("d2"))
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "clabel")
    assigned = dists.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    dis = F.count(F.when(F.col("clabel") != F.col("label"), 1))
    return (
        assigned.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            dis.alias("n_disagree"),
            F.round(dis.cast("double") / F.count("*"), 6).alias(
                "disagree_rate"
            ),
        )
        .orderBy("label")
    )


@query(
    "q_partition_volume",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
        FROM events GROUP BY 1
    ),
    trail AS (
        SELECT day, n,
               SUM(n) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING
                            AND 1 PRECEDING) AS sum7,
               COUNT(n) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING
                              AND 1 PRECEDING) AS cnt7
        FROM daily
    )
    SELECT day, n, CAST(sum7 AS BIGINT) AS sum7, cnt7,
           (cnt7 > 0 AND (n * cnt7 * 2 < sum7 OR n * cnt7 > sum7 * 2))
               AS is_anomalous
    FROM trail ORDER BY day
    """,
)
def q_partition_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load-volume anomaly gate: flag any day whose event count deviates
    more than 2x from its trailing-7-day mean — the per-partition
    completeness check an incremental pipeline runs BEFORE publishing a
    partition (freshness tells you data arrived; this tells you the
    right AMOUNT arrived). Ref: incremental daily loads README.md:82.

    Scale: the fact collapses to |days| rows first; the trailing window
    runs over that dim-grain frame. The 2x band is an integer
    cross-multiply (n * cnt7 * 2 < sum7), so no float mean ever
    materializes and the flag cannot flip between engines."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n")
    )
    w = Window.orderBy("day").rowsBetween(-7, -1)
    trail = daily.select(
        "day",
        "n",
        F.sum("n").over(w).cast("bigint").alias("sum7"),
        F.count("n").over(w).alias("cnt7"),
    )
    return trail.select(
        "day",
        "n",
        "sum7",
        "cnt7",
        (
            (F.col("cnt7") > 0)
            & (
                (F.col("n") * F.col("cnt7") * 2 < F.col("sum7"))
                | (F.col("n") * F.col("cnt7") > F.col("sum7") * 2)
            )
        ).alias("is_anomalous"),
    ).orderBy("day")


VOCAB_TOP = 100


@query(
    "q_vocab_coverage",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    head AS (
        SELECT tok FROM (
            SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok)
                       AS rnk
            FROM tok GROUP BY tok
        ) WHERE rnk <= {VOCAB_TOP}
    )
    SELECT source,
           COUNT(*) AS n_tokens,
           COUNT(*) FILTER (WHERE tok NOT IN (SELECT tok FROM head))
               AS n_oov,
           round(CAST(COUNT(*) FILTER (
                     WHERE tok NOT IN (SELECT tok FROM head)) AS DOUBLE)
                 / COUNT(*), 6) AS oov_rate
    FROM tok GROUP BY source ORDER BY source
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage / OOV audit: per-source share of token
    occurrences falling outside the corpus's top-{VOCAB_TOP} vocabulary —
    the gauge for how well a fixed tokenizer vocab (or stopword model)
    fitted on the whole corpus transfers to each source.

    Scale: the head vocabulary is a global top-k over the Zipf-sublinear
    (token, count) table — TakeOrderedAndProject, then the {VOCAB_TOP}-row
    set broadcasts into a LEFT ANTI-style membership probe on the token
    stream; only (source, 2 BIGINTs) shuffle. Rank ties break on the
    token string so the head set is deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    head = (
        tok.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "tok")
        .limit(VOCAB_TOP)
        .select("tok", F.lit(True).alias("in_head"))
    )
    probed = tok.join(F.broadcast(head), "tok", "left")
    oov = F.count(F.when(F.col("in_head").isNull(), 1))
    return (
        probed.groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            oov.alias("n_oov"),
            F.round(oov.cast("double") / F.count("*"), 6).alias("oov_rate"),
        )
        .orderBy("source")
    )


WM_MINUTES = 10


@query(
    "q_watermark_audit",
    oracle=f"""
    WITH arr AS (
        SELECT time_bucket(INTERVAL 1 HOUR, ts) AS win_start,
               ts + to_seconds(CAST(json_extract_string(props, '$.k')
                                    AS INTEGER)) AS received
        FROM events
    )
    SELECT win_start,
           COUNT(*) AS n_events,
           COUNT(*) FILTER (
               WHERE received > win_start + INTERVAL 1 HOUR
                                + INTERVAL {WM_MINUTES} MINUTE) AS n_dropped,
           round(CAST(COUNT(*) FILTER (
                     WHERE received > win_start + INTERVAL 1 HOUR
                                      + INTERVAL {WM_MINUTES} MINUTE)
                     AS DOUBLE) / COUNT(*), 6) AS drop_rate
    FROM arr GROUP BY win_start ORDER BY win_start
    """,
)
def q_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-drop accounting: for each 1-hour event-time window, how
    many events ARRIVE (received = ts + props.k lateness, the same
    synthesis as q_late_rate) after the window would have closed under a
    {WM_MINUTES}-minute watermark — the batch audit that SIZES the
    streaming watermark (streaming/jobs.py) before committing to a drop
    policy. Ref: late-data rule data_gen/pseudo_code_rules.txt:11-20,
    README.md:57.

    Scale: scan-local window bucketing + one (window, 2 BIGINTs)
    aggregate — map-side combinable, |windows| output rows. This is the
    exact accounting Structured Streaming applies internally; running it
    as a batch twin makes the drop rate inspectable BEFORE data loss."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    received = F.timestamp_add("SECOND", k, F.col("ts"))
    win_start = F.date_trunc("hour", F.col("ts"))
    return (
        ev.select(win_start.alias("win_start"), received.alias("received"))
        .withColumn(
            "closes",
            F.timestamp_add("MINUTE", F.lit(60 + WM_MINUTES), F.col("win_start")),
        )
        .groupBy("win_start")
        .agg(
            F.count("*").alias("n_events"),
            F.count(F.when(F.col("received") > F.col("closes"), 1)).alias(
                "n_dropped"
            ),
            F.round(
                F.count(F.when(F.col("received") > F.col("closes"), 1)).cast(
                    "double"
                )
                / F.count("*"),
                6,
            ).alias("drop_rate"),
        )
        .orderBy("win_start")
    )
