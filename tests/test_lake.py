"""Lake mechanics: schema evolution on read (added columns merge
NULL-backfilled, type conflicts rejected loudly), range-clustered layout
whose parquet footers actually prune, compaction file-count contract, and
merge-upsert insert/update semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from saas_analytics_pipeline_spark.operators.lake import write_generations


def test_merge_schema_backfills_added_column_with_nulls(spark, sf_dir):
    """Old-generation rows surface the added column as NULL; new-generation
    rows all carry it; no rows are lost by the merged read."""
    import os

    base = write_generations(spark, sf_dir)
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "gen_a"), os.path.join(base, "gen_b")
    )
    assert "o_channel" in merged.columns
    row = merged.agg(
        F.count("*").alias("n"),
        F.count("o_channel").alias("n_ch"),
        F.sum((F.col("o_orderkey") % 2 == 1).cast("int")).alias("n_odd"),
    ).first()
    from saas_analytics_pipeline_spark.sources import load_table

    assert row.n == load_table(spark, sf_dir, "orders").count()
    assert row.n_ch == row.n_odd  # every odd-key (gen B) row, no others


def test_merge_schema_rejects_true_type_conflict(spark, sf_dir, tmp_path):
    """The same column written as DOUBLE in one generation and STRING in
    another must fail the merged read (Spark refuses to reconcile), not
    coerce silently."""
    from saas_analytics_pipeline_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders").limit(100)
    orders.select("o_orderkey", "o_totalprice").write.parquet(
        str(tmp_path / "gen_x")
    )
    orders.select(
        "o_orderkey", F.col("o_totalprice").cast("string").alias("o_totalprice")
    ).write.parquet(str(tmp_path / "gen_y"))
    with pytest.raises(Exception, match="(?i)merge|incompatible|failed"):
        spark.read.option("mergeSchema", "true").parquet(
            str(tmp_path / "gen_x"), str(tmp_path / "gen_y")
        ).collect()


def test_clustered_footers_are_disjoint_and_prune(spark, sf_dir):
    """The range-clustered write's parquet footers must carry DISJOINT
    o_custkey min/max bands across row groups — the property min/max
    pruning needs. A selective band predicate must therefore overlap only
    a small fraction of row groups: the row-group-skip evidence read from
    the same statistics Spark's pushed filter prunes by."""
    import glob

    import pyarrow.parquet as pq

    from saas_analytics_pipeline_spark.operators.lake import (
        CLUSTER_DIV,
        write_clustered,
    )

    base = write_clustered(spark, sf_dir)
    ranges = []
    for f in glob.glob(f"{base}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = {
            md.row_group(0).column(i).path_in_schema: i
            for i in range(md.row_group(0).num_columns)
        }["o_custkey"]
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            ranges.append((st.min, st.max))
    assert len(ranges) >= 4  # clustering produced multiple row groups
    # disjoint bands: sorted by min, each group's max < next group's min
    # may touch at the boundary key (<=), but never truly interleave
    ranges.sort()
    overlaps = sum(
        1 for (a, b) in zip(ranges, ranges[1:]) if a[1] > b[0]
    )
    assert overlaps == 0, f"row-group key ranges interleave: {ranges}"
    # a 1/CLUSTER_DIV band predicate overlaps only the leading groups
    bound = max(r[1] for r in ranges) // CLUSTER_DIV
    touched = sum(1 for (lo, hi) in ranges if lo <= bound)
    assert touched / len(ranges) <= 0.5, (
        f"band predicate should skip most row groups, touched "
        f"{touched}/{len(ranges)}"
    )


def test_zorder_footers_prune_on_both_dimensions(spark, sf_dir):
    """The Z-ordered layout's row-group footers must let a predicate on
    EITHER dimension skip most groups, while the single-key
    custkey-sorted layout prunes only its own key (a date-band predicate
    touches every one of its row groups) — the comparative property that
    justifies paying the morton interleave."""
    import datetime
    import glob

    import pyarrow.parquet as pq

    from saas_analytics_pipeline_spark.operators.lake import (
        ZORDER_DATE_BOUND,
        write_clustered,
        write_zordered,
    )

    def group_stats(base, col):
        out = []
        for f in glob.glob(f"{base}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            if md.num_row_groups == 0:
                continue  # empty range partition -> footer-only file
            idx = {
                md.row_group(0).column(i).path_in_schema: i
                for i in range(md.row_group(0).num_columns)
            }[col]
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                st = rg.column(idx).statistics
                if rg.num_rows == 0 or st is None:
                    continue
                out.append((st.min, st.max))
        return out

    zbase = write_zordered(spark, sf_dir)
    cbase = write_clustered(spark, sf_dir)

    ck = group_stats(zbase, "o_custkey")
    bound = max(hi for _, hi in ck) // 4
    ck_touched = sum(1 for lo, _ in ck if lo <= bound)

    date_bound = datetime.datetime.fromisoformat(ZORDER_DATE_BOUND)

    def dt_min(v):  # pyarrow may surface timestamp stats tz-aware
        return v.replace(tzinfo=None) if hasattr(v, "replace") else v

    dt = group_stats(zbase, "o_orderdate")
    dt_touched = sum(1 for lo, _ in dt if dt_min(lo) < date_bound)

    assert len(ck) >= 8
    # both single-dimension predicates skip at least ~40% of the groups
    assert ck_touched / len(ck) <= 0.6, f"{ck_touched}/{len(ck)}"
    assert dt_touched / len(dt) <= 0.6, f"{dt_touched}/{len(dt)}"

    # the custkey-sorted copy cannot prune on date: every group's date
    # range spans the bound
    cdt = group_stats(cbase, "o_orderdate")
    c_touched = sum(1 for lo, _ in cdt if dt_min(lo) < date_bound)
    assert c_touched == len(cdt)


def test_morton_interleave_is_exact_and_bijective(spark):
    """morton_expr must equal the bit-interleave reference for EVERY cell
    of the 16x16 bucket grid (exhaustive, one job) and be a bijection on
    it — a wrong shift would silently degrade Z-order into a weaker
    clustering without failing any correctness hash (the layout never
    changes values, only locality)."""
    from saas_analytics_pipeline_spark.operators.lake import (
        ZORDER_BITS,
        morton_expr,
    )

    cells = 1 << ZORDER_BITS
    rows = [(x, y) for x in range(cells) for y in range(cells)]
    df = spark.createDataFrame(rows, "bx int, by int").withColumn(
        "z", morton_expr("bx", "by")
    )

    def ref(x, y):
        z = 0
        for i in range(ZORDER_BITS):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    got = {(r.bx, r.by): r.z for r in df.collect()}
    assert got == {(x, y): ref(x, y) for x, y in rows}
    assert len(set(got.values())) == cells * cells


def test_weighted_sample_is_calibrated(spark, sf_dir):
    """The realized sample count must track the expected mass (sum of
    weights): the whole point of probability-proportional sampling. A
    biased draw (wrong modulus, salt reuse correlating with doc_id
    parity) shows up as a calibration gap long before it breaks the
    oracle hash."""
    from saas_analytics_pipeline_spark.operators.curation import (
        WS_MOD,
        q_weighted_sample,
    )

    rows = q_weighted_sample(spark, sf_dir).collect()
    n_sampled = sum(r.n_sampled for r in rows)
    expected = sum(r.expected_micro for r in rows) / WS_MOD
    n_docs = sum(r.n_docs for r in rows)
    assert 0 < n_sampled < n_docs  # a real subsample, not a gate
    # binomial-ish tolerance: 5 sigma of sqrt(expected), floor of 10
    tol = max(10, 5 * expected**0.5)
    assert abs(n_sampled - expected) <= tol, (n_sampled, expected)


def test_compaction_gauge_file_counts(spark, sf_dir):
    """The gauge row's file counts must equal the physical file counts on
    disk (not just input_file_name()'s view of them) and the compacted
    row count must match the source exactly."""
    import glob
    import math
    import os

    from saas_analytics_pipeline_spark.operators.lake import (
        FRAG_FILES,
        ROWS_PER_FILE,
        q_compaction_gauge,
    )
    from saas_analytics_pipeline_spark.scratch import scratch_path
    from saas_analytics_pipeline_spark.sources import load_table

    row = q_compaction_gauge(spark, sf_dir).first()
    n = load_table(spark, sf_dir, "orders").count()
    assert row.files_before == FRAG_FILES
    assert row.files_after == max(1, math.ceil(n / ROWS_PER_FILE))
    assert row.n_rows == n
    base = scratch_path("saas_lake_compact", sf_dir)
    on_disk = len(glob.glob(os.path.join(base, "compact", "*.parquet")))
    assert on_disk == row.files_after


def test_merge_upsert_applies_latest_version_and_inserts(spark, sf_dir):
    """Keys % 10 == 0 are INSERTED (absent from the target), odd
    multiples of 5 are UPDATED in place (custkey bumped by the v2 amount
    — never v1's), and every other key survives untouched."""
    from saas_analytics_pipeline_spark.operators.lake import (
        UPSERT_BUMP,
        q_merge_upsert,
    )
    from saas_analytics_pipeline_spark.sources import load_table

    rows = {r.bucket: r for r in q_merge_upsert(spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders")
    src = {
        r.bucket: r
        for r in orders.groupBy(
            (F.col("o_orderkey") % 10).alias("bucket")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum("o_custkey").cast("long").alias("s"),
        )
        .collect()
    }
    assert set(rows) == set(range(10))
    for b in range(10):
        assert rows[b].n_rows == src[b].n  # no row lost or duplicated
        expected = src[b].s + (src[b].n * UPSERT_BUMP if b in (0, 5) else 0)
        assert rows[b].sum_custkey == expected, f"bucket {b}"


def test_crash_at_catches_only_its_own_crash():
    """crash_at kills the write at the named barrier and nowhere else; a
    real failure of the write (a commit conflict, a RuntimeError
    subclass) propagates instead of passing for the crash, and a write
    that never reaches the barrier fails the certificate."""
    from saas_analytics_pipeline_spark.operators.lake import crash_at
    from saas_analytics_pipeline_spark.plans.publish import (
        AFTER_DATA,
        AFTER_MANIFEST,
        CommitConflictError,
    )

    reached = []

    def write(crash_hook):
        for barrier in (AFTER_DATA, AFTER_MANIFEST):
            crash_hook(barrier)
            reached.append(barrier)

    crash_at(AFTER_MANIFEST, write)
    assert reached == [AFTER_DATA]  # killed at the manifest barrier

    def conflicted(crash_hook):
        crash_hook(AFTER_DATA)
        raise CommitConflictError("another publisher committed first")

    with pytest.raises(CommitConflictError):
        crash_at(AFTER_MANIFEST, conflicted)

    with pytest.raises(RuntimeError, match="never reached") as exc:
        crash_at("staged:dim", write)
    assert not isinstance(exc.value, CommitConflictError)


def test_scoped_confs_restores_set_and_unset_keys(spark):
    """A conf that had a value gets it back and a conf that had none is
    unset again, both on normal return and when the body raises."""
    from saas_analytics_pipeline_spark.session import scoped_confs

    was_set, was_unset = "spark.graft.test.was_set", "spark.graft.test.was_unset"
    spark.conf.set(was_set, "before")
    spark.conf.unset(was_unset)
    inside = {was_set: "inside", was_unset: "inside"}
    try:
        with scoped_confs(spark, inside):
            assert spark.conf.get(was_set) == "inside"
            assert spark.conf.get(was_unset) == "inside"
        assert spark.conf.get(was_set) == "before"
        assert spark.conf.get(was_unset, None) is None

        with pytest.raises(ZeroDivisionError):
            with scoped_confs(spark, inside):
                assert spark.conf.get(was_unset) == "inside"
                1 / 0
        assert spark.conf.get(was_set) == "before"
        assert spark.conf.get(was_unset, None) is None
    finally:
        spark.conf.unset(was_set)
