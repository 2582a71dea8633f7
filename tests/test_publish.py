"""Crash-injection certification of the manifest/rename publish
protocol (plans/publish.py): a writer dying at ANY barrier leaves
readers on the previous committed snapshot, bit-for-bit — old-or-new,
never torn."""

from __future__ import annotations

import contextlib
import functools
import os

import pytest
from pyspark.sql import functions as F

from saas_analytics_pipeline_spark.plans import publish as P
from saas_analytics_pipeline_spark.session import scoped_confs


class Boom(RuntimeError):
    pass


def _crash_at(barrier: str):
    def hook(b: str) -> None:
        if b == barrier:
            raise Boom(barrier)

    return hook


def _snap(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "mart")


@pytest.fixture(params=["local", "conditional_put"], autouse=True)
def backend(request, monkeypatch):
    """Run the WHOLE crash matrix under both commit backends: the
    local rename-under-fence backend and the object-store
    conditional-PUT backend (verdict r09 #3) — every old-or-never-torn
    guarantee must hold on both. Patches the publish entry points'
    default backend; tests that certify fence-specific behavior opt
    out via the local_only marker."""
    import functools

    be = P.LOCAL if request.param == "local" else P.CONDITIONAL_PUT
    if request.node.get_closest_marker("local_only") and be is not P.LOCAL:
        pytest.skip("certifies the local writer fence specifically")
    for fn_name in (
        "publish_snapshot",
        "ensure_published",
        "publish_partition_overwrite",
        "publish_stats",
        "publish_deletes",
        "optimize_table",
    ):
        orig = getattr(P, fn_name)
        monkeypatch.setattr(P, fn_name, functools.partial(orig, backend=be))
    return be


def _frame(spark, tag: int):
    return spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") * 10 + tag).alias("v"),
    )


def test_publish_then_read_roundtrip(spark, root):
    P.publish_snapshot(spark, _frame(spark, 1), root, "tx1")
    assert _snap(P.read_current(spark, root)) == _snap(_frame(spark, 1))
    assert P.current_manifest(root)["txid"] == "tx1"


def test_reader_before_any_commit_sees_nothing(spark, root):
    # data written but writer died before the manifest landed: the root
    # holds real parquet, yet there is NO committed snapshot
    with pytest.raises(Boom):
        P.publish_snapshot(
            spark, _frame(spark, 1), root, "tx1", crash_hook=_crash_at(P.AFTER_DATA)
        )
    assert os.path.isdir(os.path.join(root, "data", "tx1"))  # torn remains
    with pytest.raises(FileNotFoundError):
        P.read_current(spark, root)


@pytest.mark.parametrize("barrier", [P.AFTER_DATA, P.AFTER_MANIFEST])
def test_crashed_republish_leaves_old_snapshot_intact(spark, root, barrier):
    """Kill the writer at every barrier of a SECOND publish: readers must
    keep seeing the first snapshot exactly — same rows, same txid."""
    P.publish_snapshot(spark, _frame(spark, 1), root, "tx1")
    before = _snap(P.read_current(spark, root))
    with pytest.raises(Boom):
        P.publish_snapshot(
            spark,
            _frame(spark, 2),  # would change every row if it leaked
            root,
            "tx2",
            crash_hook=_crash_at(barrier),
        )
    assert P.current_manifest(root)["txid"] == "tx1"
    assert _snap(P.read_current(spark, root)) == before
    # and a retry of the SAME txid after cleanup, or a fresh txid, commits
    P.publish_snapshot(spark, _frame(spark, 2), root, "tx3")
    assert P.current_manifest(root)["txid"] == "tx3"
    assert _snap(P.read_current(spark, root)) == _snap(_frame(spark, 2))


def test_old_reader_view_survives_new_publish(spark, root):
    """Snapshot isolation: a reader that resolved the manifest BEFORE a
    new publish keeps reading its file list consistently afterwards
    (published snapshot dirs are immutable — new publishes write new
    txid dirs)."""
    P.publish_snapshot(spark, _frame(spark, 1), root, "tx1")
    old_manifest = P.current_manifest(root)
    P.publish_snapshot(spark, _frame(spark, 2), root, "tx2")
    old_view = spark.read.parquet(
        *[os.path.join(root, f) for f in old_manifest["files"]]
    )
    assert _snap(old_view) == _snap(_frame(spark, 1))
    assert _snap(P.read_current(spark, root)) == _snap(_frame(spark, 2))


def test_vacuum_reclaims_only_unreferenced(spark, root):
    P.publish_snapshot(spark, _frame(spark, 1), root, "tx1")
    with pytest.raises(Boom):
        P.publish_snapshot(
            spark, _frame(spark, 9), root, "txcrash",
            crash_hook=_crash_at(P.AFTER_DATA),
        )
    P.publish_snapshot(spark, _frame(spark, 2), root, "tx2")
    # default retention keeps the previous committed snapshot (tx1) for
    # in-flight readers; the crashed orphan reclaims immediately
    removed = P.vacuum(root)
    assert removed == ["txcrash"]
    # retain=0 is the aggressive mode: superseded snapshots go too
    removed = P.vacuum(root, retain=0)
    assert removed == ["tx1"]
    assert _snap(P.read_current(spark, root)) == _snap(_frame(spark, 2))
    # the current snapshot's files all still exist
    m = P.current_manifest(root)
    assert all(os.path.exists(os.path.join(root, f)) for f in m["files"])


def test_reader_on_retained_snapshot_survives_vacuum(spark, root):
    """The snapshot-isolation grace: a reader that resolved the manifest
    before a publish+vacuum keeps a readable, bit-identical view as long
    as its snapshot is within the retention window."""
    P.publish_snapshot(spark, _frame(spark, 1), root, "tx1")
    old_manifest = P.current_manifest(root)  # the in-flight reader's view
    P.publish_snapshot(spark, _frame(spark, 2), root, "tx2")
    P.vacuum(root)  # default retain=1 keeps tx1
    old_view = spark.read.parquet(
        *[os.path.join(root, f) for f in old_manifest["files"]]
    )
    assert _snap(old_view) == _snap(_frame(spark, 1))
    assert _snap(P.read_current(spark, root)) == _snap(_frame(spark, 2))


@pytest.mark.local_only
def test_concurrent_publishers_fail_loudly(spark, root):
    """The writer fence: while one publisher holds the fence, a second
    publish (and a vacuum) raises ConcurrentPublishError instead of
    silently last-wins-ing the pointer."""
    P.publish_snapshot(spark, _frame(spark, 1), root, "tx1")
    with P.writer_lock(root):
        with pytest.raises(P.ConcurrentPublishError):
            P.publish_snapshot(spark, _frame(spark, 2), root, "tx2")
        with pytest.raises(P.ConcurrentPublishError):
            P.vacuum(root)
    # fence released on exit: the same publish now commits
    P.publish_snapshot(spark, _frame(spark, 2), root, "tx2")
    assert P.current_manifest(root)["txid"] == "tx2"


def test_ensure_published_replays_after_data_crash(spark, root):
    """Replay after a crash between the data write and the manifest:
    the leftover uncommitted dir is reclaimed and the retry commits —
    exactly one snapshot for the txid, bit-identical to a clean run."""
    P.publish_snapshot(spark, _frame(spark, 1), root, "tx1")
    with pytest.raises(Boom):
        P.ensure_published(
            spark, _frame(spark, 2), root, "tx2",
            crash_hook=_crash_at(P.AFTER_DATA),
        )
    assert P.current_manifest(root)["txid"] == "tx1"  # still old
    P.ensure_published(spark, _frame(spark, 2), root, "tx2")  # the replay
    assert P.current_manifest(root)["txid"] == "tx2"
    assert _snap(P.read_current(spark, root)) == _snap(_frame(spark, 2))


def test_ensure_published_completes_pointer_after_manifest_crash(spark, root):
    """Replay after a crash between the manifest and the pointer swap:
    the durable manifest is adopted (no second data write) and the
    pointer swap completes."""
    P.publish_snapshot(spark, _frame(spark, 1), root, "tx1")
    with pytest.raises(Boom):
        P.ensure_published(
            spark, _frame(spark, 2), root, "tx2",
            crash_hook=_crash_at(P.AFTER_MANIFEST),
        )
    assert P.current_manifest(root)["txid"] == "tx1"
    P.ensure_published(spark, _frame(spark, 2), root, "tx2")
    assert P.current_manifest(root)["txid"] == "tx2"
    assert _snap(P.read_current(spark, root)) == _snap(_frame(spark, 2))


def test_ensure_published_never_regresses_pointer(spark, root):
    """A late replay of an already-superseded txid is a no-op: the
    pointer stays on the newer snapshot (seq guard)."""
    P.ensure_published(spark, _frame(spark, 1), root, "b1")
    P.ensure_published(spark, _frame(spark, 2), root, "b2")
    P.ensure_published(spark, _frame(spark, 9), root, "b1")  # stale replay
    assert P.current_manifest(root)["txid"] == "b2"
    assert _snap(P.read_current(spark, root)) == _snap(_frame(spark, 2))


def test_duplicate_txid_refused(spark, root):
    P.publish_snapshot(spark, _frame(spark, 1), root, "tx1")
    with pytest.raises(Exception):  # noqa: B017 - Spark raises AnalysisException
        P.publish_snapshot(spark, _frame(spark, 2), root, "tx1")
    # failed re-publish of an existing txid never disturbs the pointer
    assert _snap(P.read_current(spark, root)) == _snap(_frame(spark, 1))


def _days(spark, tag: int, days=("2024-01-01", "2024-01-02")):
    rows = [(d, k, k * 10 + tag) for d in days for k in range(5)]
    return spark.createDataFrame(rows, "dt string, k int, v int").select(
        F.to_date("dt").alias("dt"), "k", "v"
    )


def test_partition_overwrite_replaces_only_touched_days(spark, root):
    P.publish_partition_overwrite(spark, _days(spark, 1), root, "dt")
    # overwrite day 2 only; day 1 must carry over by reference
    P.publish_partition_overwrite(
        spark, _days(spark, 2, days=("2024-01-02",)), root, "dt"
    )
    got = {
        (str(r["dt"]), r["k"]): r["v"] for r in P.read_current(spark, root).collect()
    }
    for k in range(5):
        assert got[("2024-01-01", k)] == k * 10 + 1  # untouched day
        assert got[("2024-01-02", k)] == k * 10 + 2  # replaced day
    m = P.current_manifest(root)
    assert set(m["partitions"]) == {"2024-01-01", "2024-01-02"}
    # the untouched day's files still live in the FIRST txid's dir
    assert all("t1" in f for f in m["partitions"]["2024-01-01"])


@pytest.mark.parametrize("barrier", [P.AFTER_DATA, P.AFTER_MANIFEST])
def test_partition_overwrite_crash_leaves_complete_old_state(spark, root, barrier):
    """The torn-backfill hazard: a partition overwrite dying mid-commit
    must leave readers on the COMPLETE previous state — never a mix of
    old and new days (what in-place dynamic overwrite cannot promise)."""
    P.publish_partition_overwrite(spark, _days(spark, 1), root, "dt")
    before = _snap(P.read_current(spark, root))
    with pytest.raises(Boom):
        P.publish_partition_overwrite(
            spark, _days(spark, 9), root, "dt", crash_hook=_crash_at(barrier)
        )
    assert _snap(P.read_current(spark, root)) == before
    # the retry (derived txid reclaims the orphan seq) commits cleanly
    P.publish_partition_overwrite(spark, _days(spark, 2), root, "dt")
    assert _snap(P.read_current(spark, root)) == _snap(_days(spark, 2))


def test_partition_overwrite_batch_txid_replay_skips(spark, root):
    """Stream-batch replay: an already-committed batch txid SKIPS the
    merge (the frame passed on replay is ignored), and a crash between
    manifest and pointer completes on replay."""
    P.publish_partition_overwrite(spark, _days(spark, 1), root, "dt", txid="b0")
    committed = _snap(P.read_current(spark, root))
    # replay with a DIFFERENT (poisoned) frame: must be ignored
    P.publish_partition_overwrite(spark, _days(spark, 7), root, "dt", txid="b0")
    assert _snap(P.read_current(spark, root)) == committed
    # crash-after-manifest, then replay: the pointer completes
    with pytest.raises(Boom):
        P.publish_partition_overwrite(
            spark, _days(spark, 2), root, "dt", txid="b1",
            crash_hook=_crash_at(P.AFTER_MANIFEST),
        )
    assert _snap(P.read_current(spark, root)) == committed
    P.publish_partition_overwrite(spark, _days(spark, 2), root, "dt", txid="b1")
    assert P.current_manifest(root)["txid"] == "b1"
    assert _snap(P.read_current(spark, root)) == _snap(_days(spark, 2))


def test_vacuum_keeps_carried_over_txid_dirs(spark, root):
    """Carry-over safety: after several partition overwrites, old txid
    dirs hold files the CURRENT manifest still references; vacuum must
    keep those dirs even at retain=0."""
    P.publish_partition_overwrite(spark, _days(spark, 1), root, "dt")
    for tag in (2, 3):
        P.publish_partition_overwrite(
            spark, _days(spark, tag, days=("2024-01-02",)), root, "dt"
        )
    before = _snap(P.read_current(spark, root))
    P.vacuum(root, retain=0)
    assert _snap(P.read_current(spark, root)) == before
    m = P.current_manifest(root)
    assert all(os.path.exists(os.path.join(root, f)) for f in m["files"])
    # day 1's files still come from txid t1 (referenced -> survived)
    assert all("t1" in f for f in m["partitions"]["2024-01-01"])


def test_partition_overwrite_refuses_snapshot_protocol_root(spark, root):
    """Protocol-mismatch guard: a partition overwrite onto a root last
    published as a whole snapshot would silently drop that snapshot's
    files from the merged manifest — it must refuse loudly instead."""
    P.publish_snapshot(spark, _frame(spark, 1), root, "tx1")
    with pytest.raises(ValueError, match="whole-snapshot"):
        P.publish_partition_overwrite(spark, _days(spark, 1), root, "dt")
    assert _snap(P.read_current(spark, root)) == _snap(_frame(spark, 1))


def test_read_snapshot_time_travel_and_vacuum_bound(spark, root):
    """Time travel reads any RETAINED version bit-identically; a version
    vacuumed past the retention window raises instead of misreading."""
    for tag in (1, 2, 3):
        P.publish_next(spark, _frame(spark, tag), root)
    assert _snap(P.read_snapshot(spark, root, seq=1)) == _snap(_frame(spark, 1))
    assert _snap(P.read_snapshot(spark, root, txid="t2")) == _snap(
        _frame(spark, 2)
    )
    assert _snap(P.read_snapshot(spark, root, seq=3)) == _snap(
        P.read_current(spark, root)
    )
    P.vacuum(root)  # retain=1: t1 leaves the window
    assert _snap(P.read_snapshot(spark, root, seq=2)) == _snap(_frame(spark, 2))
    with pytest.raises(FileNotFoundError, match="retention"):
        P.read_snapshot(spark, root, seq=1)
    with pytest.raises(ValueError, match="exactly one"):
        P.snapshot_manifest(root)


def test_read_partitions_prunes_by_manifest(spark, root):
    P.publish_partition_overwrite(spark, _days(spark, 1), root, "dt")
    df, n_files = P.read_partitions(spark, root, ["2024-01-02"])
    assert n_files >= 1
    got = {str(r["dt"]) for r in df.select("dt").distinct().collect()}
    assert got == {"2024-01-02"}  # the other day's files were never opened
    with pytest.raises(FileNotFoundError, match="none of partitions"):
        P.read_partitions(spark, root, ["1999-01-01"])


def test_read_partitions_refuses_whole_snapshot_root(spark, root):
    P.publish_snapshot(spark, _frame(spark, 1), root, "tx1")
    with pytest.raises(ValueError, match="whole-snapshot"):
        P.read_partitions(spark, root, ["x"])


# ---------------------------------------------------------------------------
# r10: conditional-PUT contention, disjoint-partition concurrency, the
# Hive-escape partition-key fix, and the vacuumed-replay ledger
# ---------------------------------------------------------------------------


def test_cas_lost_update_impossible(spark, root, backend):
    """The lost-update certificate (verdict r09 #3): writer A reads the
    table state, and B commits BEFORE A's conditional PUT lands. A's
    whole-snapshot publish retries on the miss (last-wins semantics:
    its frame is not derived from the old state) — but the retried
    commit must sit ON TOP of B's commit in the lineage, so B's commit
    is never silently discarded."""
    if backend is P.LOCAL:
        pytest.skip("the fence serializes whole publishes on local")
    P.publish_snapshot(spark, _frame(spark, 1), root, "tx1")

    interposed = []

    def interpose(b):
        if b == P.AFTER_MANIFEST and not interposed:
            interposed.append(True)
            # writer B lands a full commit between A's read and A's PUT
            P.publish_snapshot(spark, _frame(spark, 2), root, "txB")

    P.publish_snapshot(
        spark, _frame(spark, 3), root, "txA", crash_hook=interpose
    )
    # A won the retried CAS; B's commit is A's parent, not lost
    m = P.current_manifest(root)
    assert m["txid"] == "txA"
    assert m["parent"] == "manifest-txB.json"
    assert m["seq"] == 3
    assert _snap(P.read_current(spark, root)) == _snap(_frame(spark, 3))


def test_partition_overwrite_disjoint_writers_both_commit(spark, root, backend):
    """Two writers overwriting DISJOINT days race: the CAS loser
    re-merges against the winner's manifest and commits — both days
    land (verdict r09 #4)."""
    if backend is P.LOCAL:
        pytest.skip("the fence serializes whole publishes on local")
    P.publish_partition_overwrite(spark, _days(spark, 1), root, "dt")

    interposed = []

    def interpose(b):
        if b == P.AFTER_MANIFEST and not interposed:
            interposed.append(True)
            # writer B overwrites day 2 between A's read and A's PUT
            P.publish_partition_overwrite(
                spark, _days(spark, 5, days=("2024-01-02",)), root, "dt",
                txid="wB",
            )

    # writer A overwrites day 1 only; its CAS misses once, re-merges
    P.publish_partition_overwrite(
        spark, _days(spark, 4, days=("2024-01-01",)), root, "dt",
        txid="wA", crash_hook=interpose,
    )
    got = {
        (str(r["dt"]), r["k"]): r["v"]
        for r in P.read_current(spark, root).collect()
    }
    for k in range(5):
        assert got[("2024-01-01", k)] == k * 10 + 4  # A's day
        assert got[("2024-01-02", k)] == k * 10 + 5  # B's day survived
    assert P.current_manifest(root)["seq"] == 3


def test_partition_overwrite_overlapping_writers_fail_loudly(spark, root, backend):
    """Two writers racing the SAME day: the CAS loser detects that its
    touched partition drifted since its read and raises instead of
    silently replacing the other writer's commit."""
    if backend is P.LOCAL:
        pytest.skip("the fence serializes whole publishes on local")
    P.publish_partition_overwrite(spark, _days(spark, 1), root, "dt")

    interposed = []

    def interpose(b):
        if b == P.AFTER_MANIFEST and not interposed:
            interposed.append(True)
            P.publish_partition_overwrite(
                spark, _days(spark, 5, days=("2024-01-02",)), root, "dt",
                txid="wB",
            )

    with pytest.raises(P.ConcurrentPublishError):
        P.publish_partition_overwrite(
            spark, _days(spark, 4, days=("2024-01-02",)), root, "dt",
            txid="wA", crash_hook=interpose,
        )
    # B's commit stands untouched
    got = {
        (str(r["dt"]), r["k"]): r["v"]
        for r in P.read_current(spark, root).collect()
    }
    for k in range(5):
        assert got[("2024-01-02", k)] == k * 10 + 5
    assert P.current_manifest(root)["txid"] == "wB"


def test_partition_values_with_special_chars_roundtrip(spark, root):
    """Partition values containing space / colon / percent: Spark
    Hive-escapes the directory names; the manifest must key by the REAL
    value so read_partitions' lookup hits (ADVICE r09)."""
    rows = [("north region", 1, 10), ("a:b", 2, 20), ("50%", 3, 30)]
    df = spark.createDataFrame(rows, "seg string, k int, v int")
    P.publish_partition_overwrite(spark, df, root, "seg")
    m = P.current_manifest(root)
    assert set(m["partitions"]) == {"north region", "a:b", "50%"}
    got, n_files = P.read_partitions(spark, root, ["north region", "50%"])
    assert {(r["seg"], r["k"], r["v"]) for r in got.collect()} == {
        ("north region", 1, 10),
        ("50%", 3, 30),
    }
    assert n_files >= 2


def test_vacuumed_txid_replay_never_regresses(spark, root):
    """ADVICE r09: once vacuum(retain=...) removes a superseded txid's
    manifest, a late replay of that txid (older than the retention
    window — e.g. a resurrected stream checkpoint) must NOT fall
    through to a fresh publish and commit the stale frame as the
    newest snapshot. The _APPLIED ledger records vacuumed commits."""
    P.ensure_published(spark, _frame(spark, 1), root, "b1")
    P.ensure_published(spark, _frame(spark, 2), root, "b2")
    P.ensure_published(spark, _frame(spark, 3), root, "b3")
    P.vacuum(root, retain=0)  # b1 and b2 manifests are gone
    assert not os.path.exists(
        os.path.join(root, "manifests", "manifest-b1.json")
    )
    # the ancient replay: must be recognized as applied, not re-published
    P.ensure_published(spark, _frame(spark, 9), root, "b1")
    assert P.current_manifest(root)["txid"] == "b3"
    assert _snap(P.read_current(spark, root)) == _snap(_frame(spark, 3))
    # same contract for the partition-overwrite replay entry point
    P.publish_partition_overwrite(spark, _days(spark, 1), root2 := root + "_p", "dt", txid="c1")
    P.publish_partition_overwrite(spark, _days(spark, 2), root2, "dt", txid="c2")
    P.publish_partition_overwrite(spark, _days(spark, 3), root2, "dt", txid="c3")
    P.vacuum(root2, retain=0)
    P.publish_partition_overwrite(spark, _days(spark, 9), root2, "dt", txid="c1")
    assert P.current_manifest(root2)["txid"] == "c3"
    assert _snap(P.read_current(spark, root2)) == _snap(_days(spark, 3))


def test_orphan_txid_stays_retryable_after_vacuum(spark, root):
    """The ledger records COMMITTED vacuumed txids only: a crashed
    orphan (never committed) reclaimed by vacuum must stay retryable —
    recording it would wrongly skip a legitimate retry."""
    P.ensure_published(spark, _frame(spark, 1), root, "b1")
    with pytest.raises(Boom):
        P.ensure_published(
            spark, _frame(spark, 2), root, "b2",
            crash_hook=_crash_at(P.AFTER_DATA),
        )
    P.vacuum(root, retain=0)  # reclaims the b2 orphan dir
    P.ensure_published(spark, _frame(spark, 2), root, "b2")  # the retry
    assert P.current_manifest(root)["txid"] == "b2"
    assert _snap(P.read_current(spark, root)) == _snap(_frame(spark, 2))


# ---------------------------------------------------------------------------
# Table-format maintenance (r10): file stats + skipping, merge-on-read
# deletes, OPTIMIZE bin-packing — all under BOTH commit backends
# ---------------------------------------------------------------------------


def _banded(spark, tag: int, bands=4, rows=40):
    """Rows whose k-ranges are disjoint per band: band b holds
    k in [b*rows, b*rows+rows) — file stats on k then prune bands."""
    return (
        spark.range(bands * rows)
        .select(
            (F.col("id") / rows).cast("int").alias("band"),
            F.col("id").alias("k"),
            (F.col("id") * 10 + tag).alias("v"),
        )
        .repartition(F.col("band"))
    )


def test_stats_skipping_prunes_and_loses_nothing(spark, root):
    P.publish_partition_overwrite(spark, _banded(spark, 1), root, "band")
    P.publish_stats(spark, root, ["k"])
    m = P.current_manifest(root)
    assert set(m["stats_cols"]) == {"k"}
    assert len(m["stats"]) == m["n_files"] == 4
    # a band-sized k range resolves to exactly one file
    df, n_scanned, n_total = P.read_skipping(spark, root, "k", 40, 79)
    assert (n_scanned, n_total) == (1, 4)
    got = df.where(F.col("k").between(40, 79))
    want = _banded(spark, 1).where(F.col("k").between(40, 79))
    assert _snap(got) == _snap(want)
    # an out-of-range predicate opens nothing
    empty, n_scanned, _ = P.read_skipping(spark, root, "k", 10_000, 20_000)
    assert n_scanned == 0 and empty.count() == 0


def test_read_skipping_requires_stats(spark, root):
    P.publish_partition_overwrite(spark, _banded(spark, 1), root, "band")
    with pytest.raises(ValueError, match="publish_stats"):
        P.read_skipping(spark, root, "k", 0, 10)


def test_stats_carry_over_partition_overwrite(spark, root):
    """An overwrite keeps carried files' stats and drops replaced
    files' entries; the replacement files scan conservatively until the
    next (incremental) publish_stats annotates ONLY them."""
    P.publish_partition_overwrite(spark, _banded(spark, 1), root, "band")
    P.publish_stats(spark, root, ["k"])
    before = P.current_manifest(root)["stats"]
    P.publish_partition_overwrite(
        spark, _banded(spark, 2).where(F.col("band") == 0), root, "band"
    )
    m = P.current_manifest(root)
    carried = [f for fs in m["partitions"].values() for f in fs if f in before]
    assert len(carried) == 3  # bands 1-3 carried with their stats
    assert set(m["stats"]) == set(carried)
    # replaced band-0 file: stats-less => conservatively scanned
    _, n_scanned, n_total = P.read_skipping(spark, root, "k", 40, 79)
    assert (n_scanned, n_total) == (2, 4)  # band 1 by stats + band 0 blind
    # incremental annotation scans only the stats-less file
    P.publish_stats(spark, root, ["k"])
    _, n_scanned, _ = P.read_skipping(spark, root, "k", 40, 79)
    assert n_scanned == 1


def test_deletes_invisible_everywhere_and_snapshot_scoped(spark, root):
    P.publish_partition_overwrite(spark, _banded(spark, 1), root, "band")
    P.publish_stats(spark, root, ["k"])
    pre_seq = P.current_manifest(root)["seq"]
    P.publish_deletes(
        spark, spark.range(10).select(F.col("id").alias("k")), root, "k"
    )
    full = _banded(spark, 1)
    want = full.where(F.col("k") >= 10)
    assert _snap(P.read_current(spark, root)) == _snap(want)
    got, _ = P.read_partitions(spark, root, ["0"])
    assert _snap(got) == _snap(want.where(F.col("band") == 0))
    skipped, _, _ = P.read_skipping(spark, root, "k", 0, 39)
    assert _snap(skipped.where(F.col("k").between(0, 39))) == _snap(
        want.where(F.col("k").between(0, 39))
    )
    # the pre-delete snapshot still shows every key (snapshot-scoped)
    assert _snap(P.read_snapshot(spark, root, seq=pre_seq)) == _snap(full)


def test_delete_key_mismatch_refused(spark, root):
    P.publish_partition_overwrite(spark, _banded(spark, 1), root, "band")
    P.publish_deletes(
        spark, spark.range(3).select(F.col("id").alias("k")), root, "k"
    )
    with pytest.raises(ValueError, match="one delete key"):
        P.publish_deletes(
            spark, spark.range(3).select(F.col("id").alias("v")), root, "v"
        )


@pytest.mark.parametrize("barrier", [P.AFTER_DATA, P.AFTER_MANIFEST])
def test_delete_crash_leaves_old_state(spark, root, barrier):
    P.publish_partition_overwrite(spark, _banded(spark, 1), root, "band")
    with pytest.raises(Boom):
        P.publish_deletes(
            spark,
            spark.range(10).select(F.col("id").alias("k")),
            root,
            "k",
            crash_hook=_crash_at(barrier),
        )
    assert _snap(P.read_current(spark, root)) == _snap(_banded(spark, 1))


def test_optimize_binpacks_purges_and_keeps_history(spark, root):
    # fragment: 2 files per band via maxRecordsPerFile
    with scoped_confs(spark, {"spark.sql.files.maxRecordsPerFile": "20"}):
        P.publish_partition_overwrite(spark, _banded(spark, 1), root, "band")
    P.publish_stats(spark, root, ["k"])
    P.publish_deletes(
        spark, spark.range(5).select(F.col("id").alias("k")), root, "k"
    )
    frag = P.current_manifest(root)
    assert frag["n_files"] == 8
    P.optimize_table(spark, root)
    m = P.current_manifest(root)
    assert m["n_files"] == 4  # one per band
    assert all(len(fs) == 1 for fs in m["partitions"].values())
    assert "deletes" not in m  # physically purged
    want = _banded(spark, 1).where(F.col("k") >= 5)
    assert _snap(P.read_current(spark, root)) == _snap(want)
    # rewritten files carry FRESH stats (skipping still exact)
    assert set(m["stats"]) == {f for fs in m["partitions"].values() for f in fs}
    _, n_scanned, n_total = P.read_skipping(spark, root, "k", 40, 79)
    assert (n_scanned, n_total) == (1, 4)
    # the fragmented pre-optimize snapshot is still time-travelable
    pre = P.read_snapshot(spark, root, txid=frag["txid"])
    assert _snap(pre) == _snap(want)  # same tombstones, old layout


@pytest.mark.parametrize("barrier", [P.AFTER_DATA, P.AFTER_MANIFEST])
def test_optimize_crash_leaves_old_state(spark, root, barrier):
    with scoped_confs(spark, {"spark.sql.files.maxRecordsPerFile": "20"}):
        P.publish_partition_overwrite(spark, _banded(spark, 1), root, "band")
    before = P.current_manifest(root)
    with pytest.raises(Boom):
        P.optimize_table(spark, root, crash_hook=_crash_at(barrier))
    assert P.current_manifest(root) == before
    assert _snap(P.read_current(spark, root)) == _snap(_banded(spark, 1))
    # the retry converges (crashed orphan reclaimed)
    P.optimize_table(spark, root)
    assert P.current_manifest(root)["n_files"] == 4


def test_optimize_noop_on_clean_table(spark, root):
    P.publish_partition_overwrite(spark, _banded(spark, 1), root, "band")
    before = P.current_manifest(root)
    P.optimize_table(spark, root)
    assert P.current_manifest(root) == before  # no commit, same pointer


def test_optimize_purge_narrowed_by_stats(spark, root):
    """With file stats on the delete key, a narrow key-range delete
    rewrites ONLY the overlapping partition's file — the others carry
    by reference (same file paths)."""
    P.publish_partition_overwrite(spark, _banded(spark, 1), root, "band")
    P.publish_stats(spark, root, ["k"])
    before = P.current_manifest(root)["partitions"]
    # keys 40..44 live entirely in band 1
    P.publish_deletes(
        spark,
        spark.range(40, 45).select(F.col("id").alias("k")),
        root,
        "k",
    )
    P.optimize_table(spark, root)
    after = P.current_manifest(root)["partitions"]
    assert after["1"] != before["1"]  # rewritten without the keys
    for band in ("0", "2", "3"):
        assert after[band] == before[band]  # carried by reference
    want = _banded(spark, 1).where(~F.col("k").between(40, 44))
    assert _snap(P.read_current(spark, root)) == _snap(want)


def test_optimize_drops_emptied_partition(spark, root):
    P.publish_partition_overwrite(spark, _banded(spark, 1), root, "band")
    # delete band 0 wholesale
    P.publish_deletes(
        spark, spark.range(40).select(F.col("id").alias("k")), root, "k"
    )
    P.optimize_table(spark, root)
    m = P.current_manifest(root)
    assert set(m["partitions"]) == {"1", "2", "3"}
    assert _snap(P.read_current(spark, root)) == _snap(
        _banded(spark, 1).where(F.col("k") >= 40)
    )


def test_vacuum_keeps_tombstone_txids(spark, root):
    P.publish_partition_overwrite(spark, _banded(spark, 1), root, "band")
    P.publish_deletes(
        spark, spark.range(10).select(F.col("id").alias("k")), root, "k"
    )
    P.publish_stats(spark, root, ["k"])  # one more commit on top
    removed = P.vacuum(root, retain=0)
    # the tombstone's txid dir is referenced by the current manifest
    m = P.current_manifest(root)
    tomb_txids = {f.split(os.sep)[1] for f in m["deletes"]}
    assert tomb_txids.isdisjoint(set(removed))
    want = _banded(spark, 1).where(F.col("k") >= 10)
    assert _snap(P.read_current(spark, root)) == _snap(want)


def test_concurrent_delete_appends_both_tombstones(spark, root, backend):
    """Under the CAS backend, a delete losing the conditional PUT to
    another delete re-merges: BOTH key sets end up hidden. Under the
    local fence the interposer would deadlock on the flock, so the
    race is certified on the CAS backend only."""
    if backend is P.LOCAL:
        pytest.skip("whole-publish fence serializes writers by design")
    P.publish_partition_overwrite(spark, _banded(spark, 1), root, "band")
    fired = []

    def interpose(b):
        if b == P.AFTER_MANIFEST and not fired:
            fired.append(True)
            P.publish_deletes(
                spark,
                spark.range(150, 155).select(F.col("id").alias("k")),
                root,
                "k",
                txid="delB",
            )

    P.publish_deletes(
        spark,
        spark.range(5).select(F.col("id").alias("k")),
        root,
        "k",
        txid="delA",
        crash_hook=interpose,
    )
    m = P.current_manifest(root)
    assert len(m["deletes"]) == 2
    want = _banded(spark, 1).where(
        (F.col("k") >= 5) & ~F.col("k").between(150, 154)
    )
    assert _snap(P.read_current(spark, root)) == _snap(want)


# ---------------------------------------------------------------------------
# Schema evolution in the manifest (r10): schema-in-log
# ---------------------------------------------------------------------------


def _day(spark, dt: str, cols: str, rows):
    import pyspark.sql.functions as SF

    return spark.createDataFrame(rows, cols).select(
        SF.to_date(SF.lit(dt)).alias("dt"), "*"
    )


def test_schema_evolves_and_backfills_null(spark, root):
    d1 = _day(spark, "2024-01-01", "k int, v int", [(1, 10)])
    d2 = _day(spark, "2024-01-02", "k int, v int, ch string", [(2, 20, "web")])
    P.publish_partition_overwrite(spark, d1, root, "dt")
    P.publish_partition_overwrite(spark, d2, root, "dt")
    cur = P.read_current(spark, root)
    assert cur.columns == ["dt", "k", "v", "ch"]
    got = {r["k"]: r["ch"] for r in cur.collect()}
    assert got == {1: None, 2: "web"}
    # partition reads and snapshots see the same evolved schema
    got1, _ = P.read_partitions(spark, root, ["2024-01-01"])
    assert got1.columns == ["dt", "k", "v", "ch"]
    # time travel reads the OLD schema: before evolution, no ch column
    assert P.read_snapshot(spark, root, seq=1).columns == ["dt", "k", "v"]


def test_schema_type_conflict_fails_before_any_write(spark, root):
    P.publish_partition_overwrite(
        spark, _day(spark, "2024-01-01", "k int, v int", [(1, 10)]), root, "dt"
    )
    before = P.current_manifest(root)
    bad = _day(spark, "2024-01-02", "k int, v string", [(2, "oops")])
    with pytest.raises(ValueError, match="type conflict"):
        P.publish_partition_overwrite(spark, bad, root, "dt")
    # nothing committed, no orphan data dir for a new txid
    assert P.current_manifest(root) == before
    assert sorted(os.listdir(os.path.join(root, "data"))) == [before["txid"]]


def test_optimize_normalizes_schema_across_generations(spark, root):
    """OPTIMIZE rewrites mixed-generation partitions under the evolved
    schema: a partition whose file predates the added column is
    rewritten WITH the column (null-backfilled) once it fragments or
    purges."""
    d1 = _day(spark, "2024-01-01", "k int, v int", [(1, 10), (2, 20)])
    d2 = _day(spark, "2024-01-02", "k int, v int, ch string", [(3, 30, "web")])
    P.publish_partition_overwrite(spark, d1, root, "dt")
    P.publish_partition_overwrite(spark, d2, root, "dt")
    P.publish_deletes(
        spark, spark.range(1, 2).select(F.col("id").cast("int").alias("k")),
        root, "k",
    )
    P.optimize_table(spark, root)  # purges k=1 from the 01-01 partition
    cur = P.read_current(spark, root)
    assert cur.columns == ["dt", "k", "v", "ch"]
    got = {r["k"]: r["ch"] for r in cur.collect()}
    assert got == {2: None, 3: "web"}
    # the rewritten old-generation file itself now carries the column
    m = P.current_manifest(root)
    f01 = m["partitions"]["2024-01-01"][0]
    raw = spark.read.parquet(os.path.join(root, f01))
    assert "ch" in raw.columns


def test_optimize_cluster_by_rewrites_all_and_sorts(spark, root):
    """OPTIMIZE with cluster_by re-clusters EVERY partition: rows in
    each rewritten file come out sorted by the cluster key, and the
    fresh file stats reflect the new (tight) layout."""
    rows = [(b, k, k * 7 % 40) for b in range(2) for k in range(40)]
    df = spark.createDataFrame(rows, "band int, k int, v int").repartition(
        F.col("band")
    )
    P.publish_partition_overwrite(spark, df, root, "band")
    P.publish_stats(spark, root, ["v"])
    before = P.current_manifest(root)["partitions"]
    P.optimize_table(spark, root, cluster_by=["v"])
    m = P.current_manifest(root)
    assert all(m["partitions"][b] != before[b] for b in before)  # all rewritten
    for b, fs in m["partitions"].items():
        vals = [
            r["v"]
            for r in spark.read.parquet(os.path.join(root, fs[0])).collect()
        ]
        assert vals == sorted(vals)
    # same data, stats refreshed for the new files
    assert _snap(P.read_current(spark, root)) == _snap(df)
    assert set(m["stats"]) == {f for fs in m["partitions"].values() for f in fs}


@pytest.mark.local_only
def test_maintain_table_composes_and_is_idempotent(spark, root):
    """maintain_table = OPTIMIZE + incremental stats + vacuum in one
    call; the second run is metadata-only (nothing optimized, nothing
    scanned, nothing vacuumed) and the table reads identically."""
    with scoped_confs(spark, {"spark.sql.files.maxRecordsPerFile": "20"}):
        P.publish_partition_overwrite(spark, _banded(spark, 1), root, "band")
    P.publish_deletes(
        spark, spark.range(5).select(F.col("id").alias("k")), root, "k"
    )
    r1 = P.maintain_table(spark, root, retain=0, stats_cols=["k"])
    assert r1["optimized"] is True
    assert r1["n_files"] == 4
    # optimize refreshes stats only when the table already HAD a stats
    # register; this table gains one via maintain's publish_stats step,
    # so all 4 optimized files get annotated here
    assert r1["stats_annotated_files"] == 4
    want = _banded(spark, 1).where(F.col("k") >= 5)
    assert _snap(P.read_current(spark, root)) == _snap(want)
    r2 = P.maintain_table(spark, root, retain=0, stats_cols=["k"])
    assert r2["optimized"] is False
    assert r2["stats_annotated_files"] == 0
    assert r2["vacuumed_txids"] == []
    assert _snap(P.read_current(spark, root)) == _snap(want)
    # skipping works off the stats maintain added
    _, n_scanned, n_total = P.read_skipping(spark, root, "k", 40, 79)
    assert (n_scanned, n_total) == (1, 4)


# ---------------------------------------------------------------------------
# Multi-table atomic commit (r10): the catalog pointer
# ---------------------------------------------------------------------------


@pytest.fixture()
def cat(tmp_path):
    return str(tmp_path / "catalog")


def _fact(spark, tag: int):
    return spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") * 10 + tag).alias("amount")
    )


def _dim(spark, tag: int):
    return spark.range(20).select(
        F.col("id").alias("k"), ((F.col("id") + tag) % 3).alias("tier")
    )


def test_publish_tables_commits_pair_atomically(spark, cat, backend):
    P.publish_tables(
        spark, {"fact": _fact(spark, 1), "dim": _dim(spark, 1)}, cat,
        backend=backend,
    )
    P.publish_tables(
        spark, {"fact": _fact(spark, 2), "dim": _dim(spark, 2)}, cat,
        backend=backend,
    )
    assert _snap(P.read_catalog_table(spark, cat, "fact")) == _snap(
        _fact(spark, 2)
    )
    assert _snap(P.read_catalog_table(spark, cat, "dim")) == _snap(
        _dim(spark, 2)
    )
    # catalog time travel: seq=1 shows the CONSISTENT v1 pair
    assert _snap(P.read_catalog_table(spark, cat, "fact", seq=1)) == _snap(
        _fact(spark, 1)
    )
    assert _snap(P.read_catalog_table(spark, cat, "dim", seq=1)) == _snap(
        _dim(spark, 1)
    )


@pytest.mark.parametrize("barrier", ["staged:dim", P.AFTER_MANIFEST])
def test_partial_staging_crash_never_tears_the_set(spark, cat, backend, barrier):
    """A writer dying after staging SOME tables (or after the catalog
    record, before the pointer) leaves readers on the previous
    consistent set — never fact-without-dim; the retry converges."""
    P.publish_tables(
        spark, {"fact": _fact(spark, 1), "dim": _dim(spark, 1)}, cat,
        backend=backend,
    )
    with pytest.raises(Boom):
        P.publish_tables(
            spark,
            {"fact": _fact(spark, 2), "dim": _dim(spark, 2)},
            cat,
            txid="v2",
            crash_hook=_crash_at(barrier),
            backend=backend,
        )
    # dim WAS staged (sorted order stages it first) — but invisible
    assert _snap(P.read_catalog_table(spark, cat, "dim")) == _snap(
        _dim(spark, 1)
    )
    assert _snap(P.read_catalog_table(spark, cat, "fact")) == _snap(
        _fact(spark, 1)
    )
    P.publish_tables(
        spark, {"fact": _fact(spark, 2), "dim": _dim(spark, 2)}, cat,
        txid="v2", backend=backend,
    )
    assert _snap(P.read_catalog_table(spark, cat, "dim")) == _snap(
        _dim(spark, 2)
    )
    assert _snap(P.read_catalog_table(spark, cat, "fact")) == _snap(
        _fact(spark, 2)
    )


def test_untouched_catalog_table_carries_by_reference(spark, cat, backend):
    P.publish_tables(
        spark, {"fact": _fact(spark, 1), "dim": _dim(spark, 1)}, cat,
        backend=backend,
    )
    rec1 = P.catalog_record(cat)
    P.publish_tables(spark, {"fact": _fact(spark, 2)}, cat, backend=backend)
    rec2 = P.catalog_record(cat)
    assert rec2["tables"]["dim"] == rec1["tables"]["dim"]  # same manifest
    assert rec2["tables"]["fact"] != rec1["tables"]["fact"]
    assert _snap(P.read_catalog_table(spark, cat, "dim")) == _snap(
        _dim(spark, 1)
    )


def test_concurrent_catalog_writers_merge_disjoint_tables(spark, cat, backend):
    if backend is P.LOCAL:
        pytest.skip("whole-publish fence serializes writers by design")
    P.publish_tables(
        spark, {"fact": _fact(spark, 1), "dim": _dim(spark, 1)}, cat,
        backend=backend,
    )
    fired = []

    def interpose(b):
        if b == P.AFTER_MANIFEST and not fired:
            fired.append(True)
            P.publish_tables(
                spark, {"dim": _dim(spark, 9)}, cat, txid="wB",
                backend=backend,
            )

    P.publish_tables(
        spark, {"fact": _fact(spark, 9)}, cat, txid="wA",
        crash_hook=interpose, backend=backend,
    )
    # both writers' tables landed; the loser re-merged onto the winner
    assert _snap(P.read_catalog_table(spark, cat, "fact")) == _snap(
        _fact(spark, 9)
    )
    assert _snap(P.read_catalog_table(spark, cat, "dim")) == _snap(
        _dim(spark, 9)
    )
    assert int(P.catalog_record(cat)["seq"]) >= 3


def test_catalog_committed_txid_replay_skips_restaging(spark, cat, backend):
    """Replaying an already-committed catalog txid (the streaming
    contract) must NOT restage — restaging would rewrite data files the
    committed record references. The replay skips, even with different
    frames, and a stale replay never regresses the pointer."""
    P.publish_tables(
        spark, {"fact": _fact(spark, 1), "dim": _dim(spark, 1)}, cat,
        txid="b1", backend=backend,
    )
    rec1 = P.catalog_record(cat)
    # replay with POISONED frames: recognized as applied, skipped
    P.publish_tables(
        spark, {"fact": _fact(spark, 7), "dim": _dim(spark, 7)}, cat,
        txid="b1", backend=backend,
    )
    assert P.catalog_record(cat) == rec1
    assert _snap(P.read_catalog_table(spark, cat, "fact")) == _snap(
        _fact(spark, 1)
    )
    # a newer commit, then an ancient replay: pointer never regresses
    P.publish_tables(
        spark, {"fact": _fact(spark, 2)}, cat, txid="b2", backend=backend
    )
    P.publish_tables(
        spark, {"fact": _fact(spark, 9), "dim": _dim(spark, 9)}, cat,
        txid="b1", backend=backend,
    )
    assert int(P.catalog_record(cat)["seq"]) == 2
    assert _snap(P.read_catalog_table(spark, cat, "fact")) == _snap(
        _fact(spark, 2)
    )


def test_vacuum_catalog_keeps_retained_sets(spark, cat, backend):
    for tag in (1, 2, 3):
        P.publish_tables(
            spark, {"fact": _fact(spark, tag), "dim": _dim(spark, tag)},
            cat, backend=backend,
        )
    removed = P.vacuum_catalog(cat, retain=1)
    # v1's snapshots reclaimed for both tables; v2 retained for readers
    # (txid names are t1 under the fence, t1-<suffix> under CAS backends)
    assert sorted(e.split("/")[0] for e in removed) == ["dim", "fact"]
    assert all(e.split("/")[1].startswith("t1") for e in removed)
    assert _snap(P.read_catalog_table(spark, cat, "fact", seq=2)) == _snap(
        _fact(spark, 2)
    )
    assert _snap(P.read_catalog_table(spark, cat, "fact")) == _snap(
        _fact(spark, 3)
    )
    with pytest.raises(FileNotFoundError, match="retention"):
        P.read_catalog_table(spark, cat, "fact", seq=1)


def test_vacuum_catalog_keeps_carried_table_snapshots(spark, cat, backend):
    """A table untouched since an old commit carries by reference: its
    snapshot must survive any vacuum while a retained record points at
    it."""
    P.publish_tables(
        spark, {"fact": _fact(spark, 1), "dim": _dim(spark, 1)}, cat,
        backend=backend,
    )
    P.publish_tables(spark, {"fact": _fact(spark, 2)}, cat, backend=backend)
    P.publish_tables(spark, {"fact": _fact(spark, 3)}, cat, backend=backend)
    removed = P.vacuum_catalog(cat, retain=0)
    # dim's v1 snapshot is still referenced by the current record
    assert not any(e.startswith("dim/") for e in removed)
    assert _snap(P.read_catalog_table(spark, cat, "dim")) == _snap(
        _dim(spark, 1)
    )
    assert _snap(P.read_catalog_table(spark, cat, "fact")) == _snap(
        _fact(spark, 3)
    )


def test_vacuumed_catalog_replay_never_regresses(spark, cat, backend):
    P.publish_tables(
        spark, {"fact": _fact(spark, 1)}, cat, txid="b1", backend=backend
    )
    P.publish_tables(
        spark, {"fact": _fact(spark, 2)}, cat, txid="b2", backend=backend
    )
    P.vacuum_catalog(cat, retain=0)  # b1 leaves the retention window
    # ancient poisoned replay of b1: ledgered as applied, skipped
    P.publish_tables(
        spark, {"fact": _fact(spark, 9)}, cat, txid="b1", backend=backend
    )
    assert P.catalog_record(cat)["txid"] == "b2"
    assert _snap(P.read_catalog_table(spark, cat, "fact")) == _snap(
        _fact(spark, 2)
    )


def test_read_where_routes_and_matches_full_scan(spark, root):
    with scoped_confs(spark, {"spark.sql.files.maxRecordsPerFile": "20"}):
        P.publish_partition_overwrite(spark, _banded(spark, 1), root, "band")
    P.publish_stats(spark, root, ["k"])

    def want(col, lo, hi):
        return _snap(
            P.read_current(spark, root).where(F.col(col).between(lo, hi))
        )

    # partition column -> partition pruning (numeric keys compare
    # numerically, not lexicographically)
    df, rep = P.read_where(spark, root, "band", 1, 2)
    assert rep["route"] == "partition_pruning" and rep["files"] == 4
    assert _snap(df) == want("band", 1, 2)
    # stats column -> file skipping
    df, rep = P.read_where(spark, root, "k", 40, 79)
    assert rep["route"] == "file_skipping" and rep["files"] == 2
    assert _snap(df) == want("k", 40, 79)
    # neither -> full scan, still exact
    df, rep = P.read_where(spark, root, "v", 100, 300)
    assert rep["route"] == "full_scan"
    assert _snap(df) == want("v", 100, 300)
    # empty partition range
    df, rep = P.read_where(spark, root, "band", 50, 60)
    assert rep["files"] == 0 and df.count() == 0


# ---------------------------------------------------------------------------
# r11: derived-txid uniqueness under CAS (the concurrent-OPTIMIZE manifest
# collision, VERDICT r10 #1), tombstone reconciliation across overwrites,
# Decimal-safe stats, empty-files manifests, parent-cycle guards, and
# compound predicate routing (ADVICE r10)
# ---------------------------------------------------------------------------


def _walk_parents(root):
    """Parent-chain manifest names from the committed pointer, bounded —
    returns the walked names; a cycle would repeat a name."""
    names = []
    m = P.current_manifest(root)
    while m is not None and len(names) < 20:
        names.append(P._manifest_name(m["txid"]))
        parent = m.get("parent")
        if not parent:
            break
        if parent in names:
            names.append(parent)  # surface the cycle to the assertion
            break
        with open(os.path.join(root, "manifests", parent)) as f:
            import json

            m = json.load(f)
    return names


def test_concurrent_optimize_and_auto_overwrite_no_manifest_collision(
    spark, root, backend
):
    """VERDICT r10 'what's wrong' #1: OPTIMIZE interposed (between its
    manifest write and its conditional PUT) by a writer committing an
    AUTO-derived txid at the same seq. Pre-fix both derived t<N+1>: the
    loser's retry rewrote the winner's COMMITTED manifest at the shared
    name with parent == its own name (a self-loop). Post-fix CAS txids
    carry a unique suffix — both commits land under distinct names and
    the parent chain stays acyclic."""
    if backend is P.LOCAL:
        pytest.skip("the fence serializes whole publishes on local")
    with scoped_confs(spark, {"spark.sql.files.maxRecordsPerFile": "20"}):
        P.publish_partition_overwrite(spark, _banded(spark, 1), root, "band")
    band9 = _banded(spark, 7).where(F.col("band") == 0).withColumn(
        "band", F.lit(9)
    )
    fired = []

    def interpose(b):
        if b == P.AFTER_MANIFEST and not fired:
            fired.append(True)
            # auto txid on purpose: pre-fix this derived the SAME t<N+1>
            P.publish_partition_overwrite(spark, band9, root, "band")

    P.optimize_table(spark, root, crash_hook=interpose)
    m = P.current_manifest(root)
    chain = _walk_parents(root)
    assert len(chain) == len(set(chain)), f"parent cycle: {chain}"
    assert int(m["seq"]) == 3
    assert set(m["partitions"]) == {"0", "1", "2", "3", "9"}
    assert all(len(fs) == 1 for v, fs in m["partitions"].items() if v != "9")
    got = _snap(P.read_current(spark, root))
    assert got == _snap(_banded(spark, 1).unionByName(band9))
    # time travel through the winner's manifest still works (no overwrite)
    assert _snap(P.read_snapshot(spark, root, seq=2)) == _snap(
        _banded(spark, 1).unionByName(band9)
    )


def test_concurrent_auto_txid_deletes_both_commit_distinct_names(
    spark, root, backend
):
    """Two deletes racing with AUTO-derived txids (ADVICE r10: the
    explicit-txid contention tests missed this path): distinct manifest
    names, both key sets hidden, acyclic lineage."""
    if backend is P.LOCAL:
        pytest.skip("the fence serializes whole publishes on local")
    P.publish_partition_overwrite(spark, _banded(spark, 1), root, "band")
    fired = []

    def interpose(b):
        if b == P.AFTER_MANIFEST and not fired:
            fired.append(True)
            P.publish_deletes(
                spark, spark.range(5, 8).select(F.col("id").alias("k")),
                root, "k",
            )

    P.publish_deletes(
        spark, spark.range(3).select(F.col("id").alias("k")), root, "k",
        crash_hook=interpose,
    )
    chain = _walk_parents(root)
    assert len(chain) == len(set(chain)), f"parent cycle: {chain}"
    want = _banded(spark, 1).where(
        (F.col("k") >= 3) & ~F.col("k").between(5, 7)
    )
    assert _snap(P.read_current(spark, root)) == _snap(want)


def _udays(spark, tag: int, day_keys: dict):
    """Rows with caller-chosen keys per day — lets tombstone tests place
    a key in exactly one (or several) partitions."""
    rows = [(d, k, k * 10 + tag) for d, ks in day_keys.items() for k in ks]
    return spark.createDataFrame(rows, "dt string, k int, v int").select(
        F.to_date("dt").alias("dt"), "k", "v"
    )


def test_overwrite_reinserting_deleted_key_makes_it_visible(spark, root):
    """ADVICE r10 (medium): a tombstone hides rows that existed at
    delete time — an overwrite that REWRITES the key's partition with a
    fresh row re-inserts it; the stale tombstone must not keep hiding
    the new row. Keys deleted in UNTOUCHED partitions stay hidden."""
    d1, d2 = "2024-01-01", "2024-01-02"
    P.publish_partition_overwrite(
        spark, _udays(spark, 1, {d1: [0, 1, 2], d2: [10, 11]}), root, "dt"
    )
    P.publish_deletes(
        spark, spark.createDataFrame([(2,), (11,)], "k int"), root, "k"
    )
    assert {r["k"] for r in P.read_current(spark, root).collect()} == {
        0, 1, 10,
    }
    # resubscribe: day 1 rewritten WITH k=2 (its only physical home)
    P.publish_partition_overwrite(
        spark, _udays(spark, 9, {d1: [0, 1, 2]}), root, "dt"
    )
    got = {(r["k"]): r["v"] for r in P.read_current(spark, root).collect()}
    assert got[2] == 29  # the NEW row is visible
    assert 11 not in got  # untouched day's tombstone still applies
    assert got[10] == 101  # untouched survivor intact
    # and the pre-overwrite snapshot still hides k=2 (snapshot-scoped)
    m = P.current_manifest(root)
    with open(os.path.join(root, "manifests", m["parent"])) as f:
        import json

        prev = json.load(f)
    assert {r["k"] for r in P.read_snapshot(
        spark, root, txid=prev["txid"]
    ).collect()} == {0, 1, 10}


def test_overwrite_reinsert_with_stale_copy_commits_scoped(spark, root):
    """r12 deletion vectors (VERDICT r11 #6): a re-inserted key whose
    stale copy still physically exists in an UNTOUCHED partition used to
    fail loudly demanding optimize-first; now the re-inserted key stays
    tombstoned FILE-SCOPED over the stale-holding carried files — the
    overwrite commits unconditionally, the fresh row is visible, the
    stale copy stays hidden, and optimize_table purges the scope without
    touching the live row."""
    d1, d2 = "2024-01-01", "2024-01-02"
    # k=2 lives in BOTH days
    P.publish_partition_overwrite(
        spark, _udays(spark, 1, {d1: [0, 2], d2: [2, 10]}), root, "dt"
    )
    P.publish_deletes(spark, spark.createDataFrame([(2,)], "k int"), root, "k")
    P.publish_partition_overwrite(
        spark, _udays(spark, 9, {d1: [0, 2]}), root, "dt"
    )
    m = P.current_manifest(root)
    assert "deletes" not in m  # the only tombstoned key was re-inserted
    assert len(m["scoped_deletes"]) == 1
    # the scope covers only CARRIED files (day 2), never the increment's
    scope = m["scoped_deletes"][0]["files"]
    assert scope and all(f in set(m["partitions"][d2]) for f in scope)
    got = {r["k"]: r["v"] for r in P.read_current(spark, root).collect()}
    assert got == {0: 9, 2: 29, 10: 101}  # new k=2 visible, stale hidden
    # snapshot isolation: the pre-overwrite snapshot still hides k=2
    with open(os.path.join(root, "manifests", m["parent"])) as f:
        import json as _json

        prev = _json.load(f)
    assert {
        r["k"] for r in P.read_snapshot(spark, root, txid=prev["txid"]).collect()
    } == {0, 10}
    # OPTIMIZE purges the stale copy file-aware: the live k=2 survives
    P.optimize_table(spark, root)
    m2 = P.current_manifest(root)
    assert "scoped_deletes" not in m2 and "deletes" not in m2
    got2 = {r["k"]: r["v"] for r in P.read_current(spark, root).collect()}
    assert got2 == {0: 9, 2: 29, 10: 101}


def test_scoped_tombstone_prunes_when_its_partition_is_overwritten(
    spark, root
):
    """A later overwrite REPLACING the partition that held the stale
    copy retires the scoped group's entries (the physical copy is gone),
    and the register drops once empty."""
    d1, d2 = "2024-01-01", "2024-01-02"
    P.publish_partition_overwrite(
        spark, _udays(spark, 1, {d1: [0, 2], d2: [2, 10]}), root, "dt"
    )
    P.publish_deletes(spark, spark.createDataFrame([(2,)], "k int"), root, "k")
    P.publish_partition_overwrite(
        spark, _udays(spark, 9, {d1: [0, 2]}), root, "dt"
    )
    assert P.current_manifest(root)["scoped_deletes"]
    # rewrite day 2 WITHOUT k=2: the stale copy's file dies with it
    P.publish_partition_overwrite(
        spark, _udays(spark, 7, {d2: [10, 11]}), root, "dt"
    )
    m = P.current_manifest(root)
    assert "scoped_deletes" not in m and "deletes" not in m
    got = {r["k"]: r["v"] for r in P.read_current(spark, root).collect()}
    assert got == {0: 9, 2: 29, 10: 107, 11: 117}


def test_reinserting_every_tombstoned_key_drops_the_register(spark, root):
    d1 = "2024-01-01"
    P.publish_partition_overwrite(
        spark, _udays(spark, 1, {d1: [0, 1, 2]}), root, "dt"
    )
    P.publish_deletes(
        spark, spark.createDataFrame([(1,), (2,)], "k int"), root, "k"
    )
    P.publish_partition_overwrite(
        spark, _udays(spark, 9, {d1: [0, 1, 2]}), root, "dt"
    )
    m = P.current_manifest(root)
    assert "deletes" not in m and "delete_key" not in m
    assert {r["k"] for r in P.read_current(spark, root).collect()} == {0, 1, 2}


def test_decimal_stats_record_floats_and_lose_nothing(spark, root):
    """ADVICE r10 (medium): DecimalType min/max must serialize as
    numbers — str(Decimal) compares lexicographically ('100.0' < '99.5')
    and silently skips matching files."""
    df = (
        spark.range(200)
        .select(
            (F.col("id") / 50).cast("int").alias("band"),
            F.col("id").alias("k"),
            # amounts 9.00 .. 1999.00: crosses the digit-count boundary
            # where lexicographic compare breaks
            (F.col("id") * 10 + 9).cast("decimal(18,2)").alias("amount"),
        )
        .repartition(F.col("band"))
    )
    P.publish_partition_overwrite(spark, df, root, "band")
    P.publish_stats(spark, root, ["amount"])
    m = P.current_manifest(root)
    for entry in m["stats"].values():
        lo, hi = entry["amount"]
        assert isinstance(lo, float) and isinstance(hi, float)
    import decimal

    qlo, qhi = decimal.Decimal("99.00"), decimal.Decimal("1009.00")
    pruned, n_scanned, n_total = P.read_skipping(
        spark, root, "amount", qlo, qhi
    )
    assert n_total == 4 and 0 < n_scanned < 4
    got = pruned.where(F.col("amount").between(qlo, qhi))
    want = df.where(F.col("amount").between(qlo, qhi))
    assert _snap(got) == _snap(want)


def test_purge_all_partitions_leaves_readable_empty_table(spark, root):
    """ADVICE r10 (low): optimize_table purging EVERY row writes a
    manifest with files: [] — readers must synthesize the empty frame
    from the recorded schema instead of raising."""
    d1 = "2024-01-01"
    P.publish_partition_overwrite(
        spark, _udays(spark, 1, {d1: [0, 1]}), root, "dt"
    )
    P.publish_deletes(
        spark, spark.createDataFrame([(0,), (1,)], "k int"), root, "k"
    )
    P.optimize_table(spark, root)
    m = P.current_manifest(root)
    assert m["files"] == [] and m["partitions"] == {}
    cur = P.read_current(spark, root)
    assert cur.count() == 0
    assert cur.columns == ["dt", "k", "v"]
    # the predicate-routed read survives the empty manifest too
    df, rep = P.read_where(spark, root, "dt", "2024-01-01", "2024-01-02")
    assert rep["files"] == 0 and df.count() == 0


def test_parent_cycle_guard_terminates(spark, root):
    """A hand-corrupted self-loop parent link (the pre-fix concurrent-
    OPTIMIZE symptom) must not hang any lineage walk."""
    import json

    for tag in (1, 2, 3):
        P.publish_next(spark, _frame(spark, tag), root)
    name = P.current_manifest(root)["txid"]
    man_path = os.path.join(root, "manifests", P._manifest_name(name))
    with open(man_path) as f:
        m = json.load(f)
    m["parent"] = P._manifest_name(name)  # self-loop
    with open(man_path, "w") as f:
        json.dump(m, f)
    with pytest.raises(FileNotFoundError):
        P.snapshot_manifest(root, seq=1)  # walk terminates, not hangs
    P.vacuum(root, retain=1)  # both walks bounded
    assert _snap(P.read_current(spark, root)) == _snap(_frame(spark, 3))


def test_read_where_mixed_partition_keys_fall_back_conservatively(
    spark, root
):
    """ADVICE r10 (low): numeric bounds over a table with a stray
    non-numeric partition key must keep pruning the parseable keys and
    scan the stray one conservatively — not raise ValueError."""
    rows = [("1", 1, 10), ("2", 2, 20), ("x", 3, 30)]
    df = spark.createDataFrame(rows, "seg string, k int, v int")
    P.publish_partition_overwrite(spark, df, root, "seg")
    got, rep = P.read_where(spark, root, "seg", 1, 1)
    assert rep["route"] == "partition_pruning"
    assert rep["files"] == 2  # seg=1 plus the conservative stray "x"
    assert {r["k"] for r in got.collect()} == {1}


def test_read_where_all_intersects_partition_and_stats_routes(spark, root):
    """Compound routing (VERDICT r10 #3): an AND of a partition-column
    predicate and a stats-column predicate opens only the files BOTH
    prunings keep."""
    P.publish_partition_overwrite(spark, _banded(spark, 1), root, "band")
    P.publish_stats(spark, root, ["k"])

    def want(clauses):
        df = P.read_current(spark, root)
        for col, lo, hi in clauses:
            df = df.where(F.col(col).between(lo, hi))
        return _snap(df)

    preds = [("band", 1, 2), ("k", 40, 79)]
    df, rep = P.read_where_all(spark, root, preds)
    routes = {r["col"]: r for r in rep["routes"]}
    assert routes["band"]["route"] == "partition_pruning"
    assert routes["band"]["files"] == 2
    assert routes["k"]["route"] == "file_skipping"
    assert routes["k"]["files"] == 1
    assert rep["files"] == 1  # the intersection
    assert _snap(df) == want(preds)
    # an unindexed column adds the exact predicate but no pruning
    preds3 = preds + [("v", 0, 10_000)]
    df3, rep3 = P.read_where_all(spark, root, preds3)
    assert rep3["files"] == 1
    assert _snap(df3) == want(preds3)
    # disjoint prunings intersect to the empty read
    dfe, repe = P.read_where_all(
        spark, root, [("band", 0, 0), ("k", 40, 79)]
    )
    assert repe["files"] == 0 and dfe.count() == 0
    # tombstones apply on the compound route too
    P.publish_deletes(
        spark, spark.range(40, 45).select(F.col("id").alias("k")), root, "k"
    )
    dft, _ = P.read_where_all(spark, root, preds)
    assert _snap(dft) == want(preds)


# ---------------------------------------------------------------------------
# r11: bucketed manifest tables (VERDICT r10 #4)
# ---------------------------------------------------------------------------


def test_publish_bucketed_records_spec_and_roundtrips(spark, root, backend):
    a = _frame(spark, 1)
    P.publish_bucketed(spark, a, root, "k", 4, "tx1", backend=backend)
    m = P.current_manifest(root)
    assert m["bucket"] == {"col": "k", "n": 4, "sort": ["k"]}
    assert m["n_files"] == 4  # one file per bucket by construction
    got = P.read_bucketed(spark, root, "rt_" + os.path.basename(root))
    assert _snap(got) == _snap(a)
    # a second bucketed publish supersedes; the reader follows the
    # pointer to the new txid's catalog entry, and the superseded
    # snapshot stays time-travelable through the plain reader
    b = _frame(spark, 2)
    P.publish_bucketed(spark, b, root, "k", 4, "tx2", backend=backend)
    got2 = P.read_bucketed(spark, root, "rt_" + os.path.basename(root))
    assert _snap(got2) == _snap(b)
    assert _snap(P.read_snapshot(spark, root, txid="tx1")) == _snap(a)


def test_read_bucketed_requires_spec(spark, root):
    P.publish_snapshot(spark, _frame(spark, 1), root, "tx1")
    with pytest.raises(ValueError, match="publish_bucketed"):
        P.read_bucketed(spark, root, "nospec")


def test_read_bucketed_applies_tombstones_and_keeps_colocation(spark, root):
    """Merge-on-read tombstones apply on top of the bucketed scan via a
    broadcast anti-join — deleted keys vanish, and because a broadcast
    join preserves the streamed side's partitioning and ordering, a
    downstream same-spec join still runs with zero Exchanges and Sorts."""
    root2 = root + "_b"
    P.publish_bucketed(spark, _frame(spark, 1), root, "k", 4, "tx1")
    P.publish_bucketed(spark, _frame(spark, 2), root2, "k", 4, "tx1")
    P.publish_deletes(
        spark, spark.range(3).select(F.col("id").alias("k")), root, "k"
    )
    ta = P.read_bucketed(spark, root, "tomb_a_" + os.path.basename(root))
    assert {r["k"] for r in ta.collect()} == set(range(3, 100))
    tb = P.read_bucketed(spark, root2, "tomb_b_" + os.path.basename(root))
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
    }
    with scoped_confs(spark, confs):
        # the anti-join side must still broadcast: scope the threshold
        # override to the fact-fact SMJ only by re-reading under it
        ta2 = P.read_bucketed(spark, root, "tomb_a_" + os.path.basename(root))
        joined = ta2.join(tb, "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        smj = plan[plan.index("SortMergeJoin"):]
        # both fact scans stay bucketed, the SMJ runs sort-free on the
        # buckets' own order, and the ONLY hash exchange left is the
        # tombstone key-set's internal distinct UNDER its
        # BroadcastExchange — metadata-grain, not fact-sized
        assert smj.count("Bucketed: true") == 2, smj
        assert "Sort " not in smj, smj
        assert smj.count("Exchange hashpartitioning") == 1, smj
        assert smj.index("BroadcastExchange") < smj.index(
            "Exchange hashpartitioning"
        ), smj
        got = {(r["k"]): (r["v"], tuple()) for r in joined.collect()}
        assert set(got) == set(range(3, 100))


# ---------------------------------------------------------------------------
# r11: catalog-level maintenance as one atomic unit (VERDICT r10 #5)
# ---------------------------------------------------------------------------


def _frag(spark, tag: int, parts: int = 4):
    """A deliberately multi-file frame (one file per input partition)."""
    return _fact(spark, tag).repartition(parts)


def test_maintain_catalog_compacts_all_tables_in_one_commit(
    spark, cat, backend
):
    P.publish_tables(
        spark, {"fact": _frag(spark, 1), "dim": _frag(spark, 2, 3)}, cat,
        backend=backend,
    )
    rec1 = P.catalog_record(cat)
    report = P.maintain_catalog(
        spark, cat, retain=1, stats_cols={"fact": ["k"]}, backend=backend
    )
    assert sorted(report["compacted"]) == ["dim", "fact"]
    assert report["stats_annotated"] == ["fact"]
    rec2 = P.catalog_record(cat)
    assert int(rec2["seq"]) == int(rec1["seq"]) + 1
    # ONE txid commits both tables' compactions (the atomic unit)
    assert len({v for v in rec2["tables"].values()}) == 1
    # content identical, layout packed, stats recorded
    assert _snap(P.read_catalog_table(spark, cat, "fact")) == _snap(
        _fact(spark, 1)
    )
    assert _snap(P.read_catalog_table(spark, cat, "dim")) == _snap(
        _fact(spark, 2)
    )
    troot = os.path.join(cat, "tables", "fact")
    m = P._load_manifest(troot, rec2["tables"]["fact"])
    assert m["n_files"] == 1
    assert m["stats_cols"] == ["k"] and len(m["stats"]) == 1
    # idempotent: a second run commits nothing
    report2 = P.maintain_catalog(
        spark, cat, retain=1, stats_cols={"fact": ["k"]}, backend=backend
    )
    assert report2["compacted"] == [] and report2["stats_annotated"] == []
    assert P.catalog_record(cat) == rec2
    # the pre-maintenance record stayed time-travelable (retain=1)
    assert _snap(
        P.read_catalog_table(spark, cat, "fact", seq=int(rec1["seq"]))
    ) == _snap(_fact(spark, 1))


def test_maintain_catalog_never_exposes_a_mixed_set(spark, cat, backend):
    """Readers BETWEEN two data commits see either the pre- or
    post-maintenance catalog record — never a compacted fact beside an
    old record (the single-swap contract)."""
    P.publish_tables(
        spark, {"fact": _frag(spark, 1), "dim": _frag(spark, 2, 3)}, cat,
        backend=backend,
    )
    before = P.catalog_record(cat)
    fact_pre = _snap(P.read_catalog_table(spark, cat, "fact"))
    P.maintain_catalog(spark, cat, retain=1, backend=backend)
    after = P.catalog_record(cat)
    # every retained record resolves a CONSISTENT set: both tables of a
    # record share its txid generation (or the base commit's)
    for rec in (before, after):
        assert len({v for v in rec["tables"].values()}) == 1
    assert _snap(P.read_catalog_table(spark, cat, "fact")) == fact_pre
    # second data commit lands on top of maintenance cleanly
    P.publish_tables(
        spark, {"fact": _frag(spark, 5)}, cat, backend=backend
    )
    assert _snap(P.read_catalog_table(spark, cat, "fact")) == _snap(
        _fact(spark, 5)
    )
    assert _snap(P.read_catalog_table(spark, cat, "dim")) == _snap(
        _fact(spark, 2)
    )


def test_maintain_catalog_refuses_to_clobber_concurrent_commit(
    spark, cat, backend, monkeypatch
):
    """A publish_tables landing between maintenance's read and its swap:
    the maintenance retry must refuse when its restaged table drifted —
    compacting OLD data over a NEWER commit would lose the commit."""
    if backend is P.LOCAL:
        pytest.skip("the fence serializes whole publishes on local")
    P.publish_tables(
        spark, {"fact": _frag(spark, 1)}, cat, backend=backend
    )

    # interpose via the backend's pointer read: right after maintenance
    # reads the catalog state, land a fresh fact commit
    real_read = P.ConditionalPutBackend.read_pointer
    state = {"interposed": False}

    def read_then_race(self, root):
        out = real_read(self, root)
        if not state["interposed"]:
            state["interposed"] = True
            P.publish_tables(
                spark, {"fact": _fact(spark, 9)}, cat, txid="w9",
                backend=P.CONDITIONAL_PUT,
            )
        return out

    monkeypatch.setattr(P.ConditionalPutBackend, "read_pointer", read_then_race)
    with pytest.raises(P.ConcurrentPublishError):
        P.maintain_catalog(spark, cat, retain=5, backend=backend)
    monkeypatch.undo()
    # the newer commit stands
    assert _snap(P.read_catalog_table(spark, cat, "fact")) == _snap(
        _fact(spark, 9)
    )


@contextlib.contextmanager
def _race_after_first_pointer_read(monkeypatch, racer):
    """Land ``racer``'s commit right after the writer's first pointer
    read, so the writer's conditional PUT misses."""
    real_read = P.ConditionalPutBackend.read_pointer
    state = {"interposed": False}

    def read_then_race(self, root):
        out = real_read(self, root)
        if not state["interposed"]:
            state["interposed"] = True
            racer()
        return out

    with monkeypatch.context() as mp:
        mp.setattr(P.ConditionalPutBackend, "read_pointer", read_then_race)
        yield


@pytest.mark.parametrize(
    "writer, race",
    [
        ("stats", "snapshot"),
        ("bucketed", "snapshot"),
        ("catalog_deletes", "same_table"),
        ("catalog_deletes", "other_table"),
        ("catalog_increments", "same_table"),
        ("catalog_increments", "other_table"),
    ],
)
def test_lost_put_follows_writer_conflict_policy(
    spark, root, cat, backend, monkeypatch, writer, race
):
    """A writer losing the conditional PUT follows its conflict policy:
    the last-wins writers (publish_stats, publish_bucketed) re-derive
    seq/parent on top of the winner; the touched-table catalog writers
    (publish_catalog_deletes, publish_catalog_increments) refuse when
    the winner touched their table and commit on top when it did not."""
    if backend is P.LOCAL:
        pytest.skip("the fence serializes whole publishes on local")
    cp = P.CONDITIONAL_PUT
    if race == "snapshot":
        P.publish_snapshot(spark, _frame(spark, 1), root, "tx1")
        with _race_after_first_pointer_read(
            monkeypatch,
            lambda: P.publish_snapshot(spark, _frame(spark, 2), root, "txB"),
        ):
            if writer == "stats":
                P.publish_stats(spark, root, ["k"], backend=cp)
            else:
                P.publish_bucketed(
                    spark, _frame(spark, 3), root, "k", 4, "txA", backend=cp
                )
        m = P.current_manifest(root)
        assert m["seq"] == 3 and m["parent"] == "manifest-txB.json"
        if writer == "stats":
            # the stats are re-derived over the WINNER's files
            winner = P.snapshot_manifest(root, txid="txB")
            assert m["files"] == winner["files"]
            assert sorted(m["stats"]) == sorted(winner["files"])
            assert _snap(P.read_current(spark, root)) == _snap(_frame(spark, 2))
        else:
            assert m["txid"] == "txA" and m["bucket"]["n"] == 4
            assert _snap(P.read_current(spark, root)) == _snap(_frame(spark, 3))
        return

    def fact(tag):
        return _fact(spark, tag).withColumn("p", F.col("k") % 4)

    P.publish_tables(
        spark, {"fact": fact(1), "dim": _dim(spark, 1)}, cat,
        backend=cp, partitions={"fact": "p"},
    )
    target = "fact" if race == "same_table" else "dim"
    winner = fact(9) if target == "fact" else _dim(spark, 9)

    def racer():
        P.publish_tables(
            spark, {target: winner}, cat, txid="w9", backend=cp,
            partitions={"fact": "p"},
        )

    inc = fact(5).where(F.col("p") == 1)
    with _race_after_first_pointer_read(monkeypatch, racer):
        if writer == "catalog_deletes":
            write = functools.partial(
                P.publish_catalog_deletes, spark, cat, "fact",
                spark.createDataFrame([(3,)], "k long"), "k", backend=cp,
            )
            want = fact(1).where(F.col("k") != 3)
        else:
            write = functools.partial(
                P.publish_catalog_increments, spark, cat, {"fact": inc},
                backend=cp,
            )
            want = fact(1).where(F.col("p") != 1).unionByName(inc)
        if race == "same_table":
            with pytest.raises(P.ConcurrentPublishError, match="drifted"):
                write()
        else:
            write()
    rec = P.catalog_record(cat)
    if race == "same_table":
        # the newer commit stands
        assert rec["txid"] == "w9" and rec["seq"] == 2
        assert _snap(P.read_catalog_table(spark, cat, "fact")) == _snap(winner)
    else:
        assert rec["seq"] == 3 and rec["parent"] == "catalog-w9.json"
        assert _snap(P.read_catalog_table(spark, cat, "fact")) == _snap(want)
        assert _snap(P.read_catalog_table(spark, cat, "dim")) == _snap(winner)


@pytest.mark.parametrize("form", ["whole", "partitioned", "tombstoned"])
def test_pointer_and_catalog_readers_agree(spark, root, cat, backend, form):
    """The same frame published once as a pointer table and once as a
    catalog table reads back identically through every reader pair, with
    identical route reports: bucketed whole-table, partitioned+bucketed,
    and partitioned+bucketed carrying one global and one scoped
    tombstone."""
    f = _bp_fact(spark, 6)
    spec = {"col": "ck", "n": 4}
    tag = os.path.basename(str(root)) + "_" + form
    if form == "whole":
        P.publish_bucketed(spark, f, root, "ck", 4, "t1", backend=backend)
        P.publish_tables(spark, {"f": f}, cat, backend=backend, buckets={"f": spec})
        bucketed = (
            P.read_bucketed(spark, root, "pp_" + tag),
            P.read_catalog_bucketed(spark, cat, "f", "pc_" + tag),
        )
        preds = [("ck", 2, 12)]
        want = f
    else:
        P.publish_partition_overwrite(
            spark, f, root, "mk", bucket_col="ck", n_buckets=4
        )
        P.publish_tables(
            spark, {"f": f}, cat, backend=backend, buckets={"f": spec},
            partitions={"f": "mk"},
        )
        want = f
        if form == "tombstoned":
            keys = spark.createDataFrame([(3,), (5,)], "ck long")
            P.publish_deletes(spark, keys, root, "ck")
            P.publish_catalog_deletes(spark, cat, "f", keys, "ck", backend=backend)
            # re-inserting ck=3 in one month while its stale copies survive
            # in the carried months downgrades it to a scoped group
            inc = spark.createDataFrame(
                [(3, 199602, 7003)], "ck long, mk long, v6 long"
            )
            P.publish_partition_overwrite(
                spark, inc, root, "mk", bucket_col="ck", n_buckets=4
            )
            P.publish_catalog_increments(spark, cat, {"f": inc}, backend=backend)
            m = P.current_manifest(root)
            assert len(m["deletes"]) == 1 and len(m["scoped_deletes"]) == 1
            want = f.where(
                (F.col("mk") != 199602) & ~F.col("ck").isin(3, 5)
            ).unionByName(inc)
        bucketed = (
            P.read_bucketed_partitioned(spark, root, "pp_" + tag).drop("_p"),
            P.read_catalog_bucketed_partitioned(
                spark, cat, "f", "pc_" + tag
            ).drop("_p"),
        )
        preds = [("mk", 199602, 199603), ("ck", 2, 12)]
    pairs = [
        (P.read_current(spark, root), P.read_catalog_table(spark, cat, "f")),
        bucketed,
    ]
    for pointer_df, catalog_df in pairs:
        assert _snap(pointer_df) == _snap(catalog_df) == _snap(want)
    pdf, prep = P.read_where_all(spark, root, preds)
    cdf, crep = P.read_catalog_where(spark, cat, "f", preds)
    assert prep == crep
    assert _snap(pdf) == _snap(cdf)
    assert _snap(pdf) == _snap(
        want.where(
            functools.reduce(
                lambda a, b: a & b,
                [F.col(c).between(lo, hi) for c, lo, hi in preds],
            )
        )
    )


def test_read_catalog_where_routes_and_guards(spark, cat, backend):
    """read_catalog_where: skipping route over maintain_catalog's
    recorded stats, full-scan fallback, compound intersection, and the
    loud unknown-table guard."""
    fact = spark.range(160).select(
        (F.col("id") / 40).cast("int").alias("band"),
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
    )
    P.publish_tables(
        spark,
        {"fact": fact.repartition(4, (F.col("band") * 17).cast("long"))},
        cat, backend=backend,
    )
    P.maintain_catalog(
        spark, cat, retain=1, compact=False,
        stats_cols={"fact": ["k"]}, backend=backend,
    )
    df, rep = P.read_catalog_where(spark, cat, "fact", [("k", 40, 79)])
    assert rep["routes"][0]["route"] == "file_skipping"
    assert rep["files"] == 1 and rep["files_total"] == 4
    assert {r["k"] for r in df.collect()} == set(range(40, 80))
    # compound: stats column AND an un-annotated column
    df2, rep2 = P.read_catalog_where(
        spark, cat, "fact", [("k", 40, 79), ("v", 0, 500)]
    )
    assert [r["route"] for r in rep2["routes"]] == [
        "file_skipping", "full_scan",
    ]
    assert rep2["files"] == 1
    assert {r["k"] for r in df2.collect()} == set(range(40, 51))
    with pytest.raises(FileNotFoundError, match="not in catalog"):
        P.read_catalog_where(spark, cat, "nope", [("k", 0, 1)])


# ---------------------------------------------------------------------------
# r12: ADVICE hardening — decimal bounds, legacy stats, respec, stats carry
# ---------------------------------------------------------------------------


def test_partitions_in_range_decimal_bounds_compare_numerically():
    """Decimal query bounds must parse partition keys numerically
    (ADVICE r11 medium): lexicographic compare orders key '10.5' below
    bound '9.5' and silently drops matching partitions."""
    from decimal import Decimal

    m = {"partitions": {"9.5": ["f1"], "10.5": ["f2"], "2.0": ["f3"]}}
    got = P._partitions_in_range(m, Decimal("9.0"), Decimal("11.0"))
    assert sorted(got) == ["10.5", "9.5"]
    # an unparseable stray key is kept conservatively, not crashed on
    m2 = {"partitions": {"9.5": ["f1"], "stray": ["f2"]}}
    got2 = P._partitions_in_range(m2, Decimal("9.0"), Decimal("11.0"))
    assert sorted(got2) == ["9.5", "stray"]


def test_legacy_string_stats_degrade_to_conservative_scan():
    """Pre-r11 manifests recorded Decimal stats as strings; float-typed
    bounds must not crash the skipper on them (ADVICE r11) — the file
    degrades to a conservative scan, exactly like a stats-less file."""
    m = {
        "files": ["legacy", "typed_in", "typed_out", "bare"],
        "stats": {
            "legacy": {"v": ["100.0", "200.0"]},  # str-recorded (pre-r11)
            "typed_in": {"v": [50.0, 60.0]},
            "typed_out": {"v": [900.0, 950.0]},
        },
    }
    got = P._files_for_stats_range(m, "v", 40.0, 70.0)
    # legacy kept conservatively, typed stats still skip exactly
    assert sorted(got) == ["bare", "legacy", "typed_in"]


def test_read_bucketed_entry_tracks_respec_at_same_txid(spark, root):
    """An rmtree+republish at the SAME root+txid with a different schema
    and bucket count must not reuse the stale catalog entry's CLUSTERED
    BY / column DDL (ADVICE r11): the entry name now hashes the bucket
    spec and schema JSON, so the respec binds a fresh entry."""
    import shutil

    P.publish_bucketed(spark, _frame(spark, 1), root, "k", 4, "tx1")
    view = "respec_" + os.path.basename(root)
    got1 = P.read_bucketed(spark, root, view)
    assert sorted(got1.columns) == ["k", "v"] and got1.count() == 100
    shutil.rmtree(root)
    wider = _frame(spark, 2).withColumn("extra", F.col("k") * 2)
    P.publish_bucketed(spark, wider, root, "k", 2, "tx1")
    got2 = P.read_bucketed(spark, root, view)
    assert sorted(got2.columns) == ["extra", "k", "v"]
    assert _snap(got2) == _snap(wider)


def test_republish_parks_entry_under_live_lazy_frame(spark, root):
    """A lazy DataFrame built over read_bucketed must survive a
    republish of the same root (VERDICT r12 #1): the superseded
    hash-tagged catalog entry is PARKED, never eagerly dropped, so the
    frame materializes against the OLD snapshot's files — snapshot
    isolation — while a fresh read binds the new entry. gc only drops
    parked (superseded) entries, never the live one."""
    view = "park_" + os.path.basename(root)
    P.publish_bucketed(spark, _frame(spark, 1), root, "k", 4, "tx1")
    lazy = P.read_bucketed(spark, root, view).groupBy().sum("v")
    old_snap = _frame(spark, 1).groupBy().sum("v").collect()[0][0]
    # republish different data at the same root → new entry, old parked
    P.publish_bucketed(
        spark, _frame(spark, 2).limit(37), root, "k", 4, "tx2"
    )
    fresh = P.read_bucketed(spark, root, view)
    assert fresh.count() == 37
    # the pre-republish lazy frame still materializes, over OLD data
    assert lazy.collect()[0][0] == old_snap
    assert len(P._SUPERSEDED_ENTRIES) >= 1
    # dangling-only GC keeps a parked entry whose files still exist —
    # the retained-snapshot reader's lazy frame stays valid
    assert P.gc_bucketed_entries(spark, dangling_only=True) == 0
    assert len(P._SUPERSEDED_ENTRIES) >= 1
    # once the old snapshot's files are gone (vacuum), the parked entry
    # is doomed anyway and dangling-only GC reclaims it
    import shutil as _sh

    _sh.rmtree(os.path.join(root, "data", "tx1"))
    assert P.gc_bucketed_entries(spark, dangling_only=True) >= 1
    dropped = P.gc_bucketed_entries(spark)  # full drop clears the rest
    assert not P._SUPERSEDED_ENTRIES
    # the live entry survived gc — a fresh read keeps working
    assert P.read_bucketed(spark, root, view).count() == 37


def test_maintain_catalog_compaction_carries_prior_stats_register(
    spark, cat, backend
):
    """Compacting a table absent from this run's stats_cols must carry —
    and recompute over the new file set — its previously recorded
    stats_cols instead of silently dropping the register and degrading
    read_catalog_where to full scans (ADVICE r11)."""
    P.publish_tables(
        spark, {"fact": _frag(spark, 1)}, cat, backend=backend
    )
    # run 1: annotate only (no compaction) — 4 files, stats_cols=[k]
    P.maintain_catalog(
        spark, cat, retain=5, compact=False,
        stats_cols={"fact": ["k"]}, backend=backend,
    )
    rec1 = P.catalog_record(cat)
    troot = os.path.join(cat, "tables", "fact")
    m1 = P._load_manifest(troot, rec1["tables"]["fact"])
    assert m1["stats_cols"] == ["k"] and m1["n_files"] == 4
    # run 2: compact WITHOUT requesting stats — the register must carry
    report = P.maintain_catalog(spark, cat, retain=5, backend=backend)
    assert report["compacted"] == ["fact"]
    rec2 = P.catalog_record(cat)
    m2 = P._load_manifest(troot, rec2["tables"]["fact"])
    assert m2["n_files"] == 1
    assert m2["stats_cols"] == ["k"]
    assert set(m2["stats"]) == set(m2["files"])
    # and the routing the register exists for still works
    df, rep = P.read_catalog_where(spark, cat, "fact", [("k", 0, 5)])
    assert rep["routes"][0]["route"] == "file_skipping"
    assert {r["k"] for r in df.collect()} == set(range(6))


def test_maintain_catalog_drains_zero_row_files(spark, cat, backend):
    """A zero-row file yields no min/max group row; without the explicit
    [null, null] sentinel it counts as missing-stats forever and every
    maintenance run stages a fresh commit — churning seq/vacuum against
    the documented second-run-commits-nothing idempotency (ADVICE r11)."""
    empty = spark.createDataFrame([], "k long, amount long").coalesce(1)
    P.publish_tables(
        spark, {"fact": _fact(spark, 1), "void": empty}, cat,
        backend=backend,
    )
    P.maintain_catalog(
        spark, cat, retain=5, stats_cols={"void": ["k"]}, backend=backend
    )
    rec1 = P.catalog_record(cat)
    troot = os.path.join(cat, "tables", "void")
    m = P._load_manifest(troot, rec1["tables"]["void"])
    assert m["stats_cols"] == ["k"]
    assert all(v["k"] == [None, None] for v in m["stats"].values())
    # idempotent now: the sentinel drains the missing list
    report2 = P.maintain_catalog(
        spark, cat, retain=5, stats_cols={"void": ["k"]}, backend=backend
    )
    assert report2["compacted"] == [] and report2["stats_annotated"] == []
    assert P.catalog_record(cat) == rec1
    # a range read over the sentinel file skips it exactly (no rows match)
    df, rep = P.read_catalog_where(spark, cat, "void", [("k", 0, 10)])
    assert rep["files"] == 0 and df.count() == 0


# ---------------------------------------------------------------------------
# r12: bucketed PARTITIONED tables (VERDICT r11 #5)
# ---------------------------------------------------------------------------


def _monthly(spark, year: int, tag: int = 0):
    # 24 keys x 3 months, deterministic month key and amount
    return spark.range(72).select(
        (F.col("id") % 24).alias("k"),
        (F.lit(year) * 100 + (F.col("id") % 3) + 1).alias("mk"),
        (F.col("id") * 10 + tag).alias("v"),
    )


def test_bucketed_partitioned_roundtrip_and_incremental_overwrite(
    spark, root, backend
):
    a = _monthly(spark, 1996)
    P.publish_partition_overwrite(
        spark, a, root, "mk", bucket_col="k", n_buckets=4, backend=backend
    )
    m = P.current_manifest(root)
    assert m["bucket"] == {"col": "k", "n": 4, "sort": ["k"]}
    assert set(m["partitions"]) == {"199601", "199602", "199603"}
    got = P.read_bucketed_partitioned(spark, root, "rtp_" + os.path.basename(root))
    assert _snap(got.drop("_p")) == _snap(a)
    # overwrite ONE month bucketed; others carry by reference
    inc = a.where(F.col("mk") == 199602).withColumn("v", F.col("v") + 1000)
    P.publish_partition_overwrite(
        spark, inc, root, "mk", bucket_col="k", n_buckets=4, backend=backend
    )
    m2 = P.current_manifest(root)
    assert m2["partitions"]["199601"] == m["partitions"]["199601"]
    assert m2["partitions"]["199602"] != m["partitions"]["199602"]
    got2 = P.read_bucketed_partitioned(
        spark, root, "rtp_" + os.path.basename(root)
    )
    exp = a.withColumn(
        "v",
        F.when(F.col("mk") == 199602, F.col("v") + 1000).otherwise(F.col("v")),
    )
    assert _snap(got2.drop("_p")) == _snap(exp)


def test_bucketed_partitioned_join_zero_exchange_across_partitions(
    spark, root
):
    """The 100 TB fact-fact story: two date-partitioned facts bucketed
    by the same key join with ZERO shuffle Exchanges below the SMJ
    across ALL partitions — incremental overwrites included."""
    root2 = root + "_b"
    P.publish_partition_overwrite(
        spark, _monthly(spark, 1996), root, "mk", bucket_col="k", n_buckets=4
    )
    P.publish_partition_overwrite(
        spark, _monthly(spark, 1997, tag=5), root2, "mk",
        bucket_col="k", n_buckets=4,
    )
    # an incremental overwrite must not break co-location
    P.publish_partition_overwrite(
        spark,
        _monthly(spark, 1996).where(F.col("mk") == 199601),
        root, "mk", bucket_col="k", n_buckets=4,
    )
    ta = P.read_bucketed_partitioned(spark, root, "zx_a_" + os.path.basename(root))
    tb = P.read_bucketed_partitioned(spark, root2, "zx_b_" + os.path.basename(root))
    with scoped_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        ga = ta.groupBy("k").agg(F.sum("v").alias("s96"))
        gb = tb.groupBy("k").agg(F.sum("v").alias("s97"))
        j = ga.join(gb, "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert plan.count("Bucketed: true") == 2, plan
        assert "Exchange hashpartitioning" not in plan, plan
        got = {r["k"]: (r["s96"], r["s97"]) for r in j.collect()}
        assert len(got) == 24


def test_bucketed_partitioned_spec_is_a_table_invariant(spark, root):
    a = _monthly(spark, 1996)
    P.publish_partition_overwrite(
        spark, a, root, "mk", bucket_col="k", n_buckets=4
    )
    inc = a.where(F.col("mk") == 199601)
    with pytest.raises(ValueError, match="table invariant"):
        P.publish_partition_overwrite(
            spark, inc, root, "mk", bucket_col="k", n_buckets=8
        )
    with pytest.raises(ValueError, match="table invariant"):
        P.publish_partition_overwrite(spark, inc, root, "mk")
    # and an unbucketed lineage refuses a bucketed overwrite
    root2 = root + "_plain"
    P.publish_partition_overwrite(spark, a, root2, "mk")
    with pytest.raises(ValueError, match="table invariant"):
        P.publish_partition_overwrite(
            spark, inc, root2, "mk", bucket_col="k", n_buckets=4
        )


def test_bucketed_partitioned_prunes_and_applies_tombstones(spark, root):
    a = _monthly(spark, 1996)
    P.publish_partition_overwrite(
        spark, a, root, "mk", bucket_col="k", n_buckets=4
    )
    P.publish_deletes(
        spark, spark.range(3).select(F.col("id").alias("k")), root, "k"
    )
    t = P.read_bucketed_partitioned(spark, root, "pt_" + os.path.basename(root))
    assert {r["k"] for r in t.collect()} == set(range(3, 24))
    pruned = t.where(F.col("_p") == "199602")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(_p" in plan, plan
    assert _snap(pruned.drop("_p")) == _snap(
        a.where((F.col("mk") == 199602) & (F.col("k") >= 3))
    )


def test_bucketed_partitioned_crash_leaves_previous_state(spark, root):
    """The bucketed overwrite path hits the same crash barriers as the
    plain one: a writer dying after data or after manifest leaves every
    reader on the complete previous snapshot; a fresh retry converges."""
    a = _monthly(spark, 1996)
    P.publish_partition_overwrite(
        spark, a, root, "mk", bucket_col="k", n_buckets=4
    )
    before = _snap(
        P.read_bucketed_partitioned(
            spark, root, "cr_" + os.path.basename(root)
        ).drop("_p")
    )
    inc = a.where(F.col("mk") == 199602).withColumn("v", F.col("v") + 1000)
    for barrier in (P.AFTER_DATA, P.AFTER_MANIFEST):
        with pytest.raises(Boom):
            P.publish_partition_overwrite(
                spark, inc, root, "mk", bucket_col="k", n_buckets=4,
                crash_hook=_crash_at(barrier),
            )
        assert _snap(
            P.read_bucketed_partitioned(
                spark, root, "cr_" + os.path.basename(root)
            ).drop("_p")
        ) == before
    P.publish_partition_overwrite(
        spark, inc, root, "mk", bucket_col="k", n_buckets=4
    )
    exp = a.withColumn(
        "v",
        F.when(F.col("mk") == 199602, F.col("v") + 1000).otherwise(F.col("v")),
    )
    assert _snap(
        P.read_bucketed_partitioned(
            spark, root, "cr_" + os.path.basename(root)
        ).drop("_p")
    ) == _snap(exp)


def test_bucketed_partitioned_disjoint_cas_writers_both_commit(
    spark, root, backend, monkeypatch
):
    """Two CAS writers overwriting DISJOINT months of a bucketed
    partitioned table both commit (the loser re-merges), and the merged
    table still reads correctly through the bucketed entry."""
    if backend is P.LOCAL:
        pytest.skip("the fence serializes whole publishes on local")
    a = _monthly(spark, 1996)
    P.publish_partition_overwrite(
        spark, a, root, "mk", bucket_col="k", n_buckets=4, backend=backend
    )
    inc1 = a.where(F.col("mk") == 199601).withColumn("v", F.col("v") + 1000)
    inc2 = a.where(F.col("mk") == 199603).withColumn("v", F.col("v") + 2000)
    state = {"raced": False}
    real_commit = P.ConditionalPutBackend.commit_pointer

    def commit_with_race(self, r, name, etag):
        if not state["raced"]:
            state["raced"] = True
            P.publish_partition_overwrite(
                spark, inc2, root, "mk", bucket_col="k", n_buckets=4,
                txid="w2", backend=P.CONDITIONAL_PUT,
            )
        return real_commit(self, r, name, etag)

    monkeypatch.setattr(
        P.ConditionalPutBackend, "commit_pointer", commit_with_race
    )
    P.publish_partition_overwrite(
        spark, inc1, root, "mk", bucket_col="k", n_buckets=4, txid="w1",
        backend=backend,
    )
    monkeypatch.undo()
    exp = a.withColumn(
        "v",
        F.when(F.col("mk") == 199601, F.col("v") + 1000)
        .when(F.col("mk") == 199603, F.col("v") + 2000)
        .otherwise(F.col("v")),
    )
    got = P.read_bucketed_partitioned(
        spark, root, "cas_" + os.path.basename(root)
    )
    assert _snap(got.drop("_p")) == _snap(exp)


def test_bucketed_partitioned_reader_applies_scoped_tombstones(spark, root):
    """Deletion vectors compose with the bucketed partitioned reader:
    after a GDPR delete and a resubscribe overwrite, the scoped group
    hides the stale copy in the carried month while the fresh row (and
    the co-located scan) survive."""
    # k=7 lives in months 1 and 2 (id 7 -> mk 199602, id 31 -> mk 199602?
    # construct explicitly: two months, key 7 in both)
    rows = [(7, 199601, 10), (7, 199602, 20), (8, 199601, 30), (9, 199602, 40)]
    df = spark.createDataFrame(rows, "k long, mk long, v long")
    P.publish_partition_overwrite(
        spark, df, root, "mk", bucket_col="k", n_buckets=2
    )
    P.publish_deletes(
        spark, spark.createDataFrame([(7,)], "k long"), root, "k"
    )
    # resubscribe k=7 in month 1 with a new value; month 2's stale copy
    # must stay hidden
    inc = spark.createDataFrame(
        [(7, 199601, 99), (8, 199601, 30)], "k long, mk long, v long"
    )
    P.publish_partition_overwrite(
        spark, inc, root, "mk", bucket_col="k", n_buckets=2
    )
    m = P.current_manifest(root)
    assert m.get("scoped_deletes"), m
    got = P.read_bucketed_partitioned(
        spark, root, "sc_" + os.path.basename(root)
    )
    assert {(r["k"], r["v"]) for r in got.collect()} == {
        (7, 99), (8, 30), (9, 40),
    }
    # co-location survives the scoped anti-joins: a key aggregate on top
    # consumes the bucketed distribution with NO exchange below it (the
    # plain read would report "Bucketed: false (disabled)" here because
    # nothing NEEDS the bucketing — the aggregate makes it load-bearing)
    agg = got.groupBy("k").agg(F.sum("v").alias("s"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan, plan
    # the ONLY hash exchange is the tombstone key-set's distinct, and it
    # sits UNDER its BroadcastExchange — the fact stream itself feeds
    # the aggregate shuffle-free off the bucketed scan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.index("BroadcastExchange") < plan.index(
        "Exchange hashpartitioning"
    ), plan


def _scoped_root(spark, root):
    """Build a root with a live scoped-tombstone group (k=7's stale
    month-2 copy hidden, fresh month-1 row visible)."""
    rows = [(7, 199601, 10), (7, 199602, 20), (8, 199601, 30), (9, 199602, 40)]
    df = spark.createDataFrame(rows, "k long, mk long, v long")
    P.publish_partition_overwrite(spark, df, root, "mk")
    P.publish_deletes(
        spark, spark.createDataFrame([(7,)], "k long"), root, "k"
    )
    inc = spark.createDataFrame(
        [(7, 199601, 99), (8, 199601, 30)], "k long, mk long, v long"
    )
    P.publish_partition_overwrite(spark, inc, root, "mk")
    assert P.current_manifest(root).get("scoped_deletes")


def test_scoped_deletes_survive_symlinked_root(spark, root, tmp_path):
    """Scope provenance matches on the manifest-relative tail, so a
    reader entering through a SYMLINKED root path still hides the stale
    copies — an absolute-path comparison would silently unmatch and
    resurrect deleted rows (ADVICE r12)."""
    _scoped_root(spark, root)
    link = str(tmp_path / "lnk" / "table")
    os.makedirs(os.path.dirname(link), exist_ok=True)
    os.symlink(root, link)
    got = P.read_current(spark, link)
    assert {(r["k"], r["v"]) for r in got.collect()} == {
        (7, 99), (8, 30), (9, 40),
    }


def test_scoped_deletes_fail_loudly_on_missing_scope_file(spark, root):
    """A scoped group referencing a data file that no longer exists
    (manifest/data drift: bad vacuum, manual surgery) must REFUSE the
    read instead of silently no-oping the mask (ADVICE r12). The guard
    fires at plan build, before any scan."""
    _scoped_root(spark, root)
    m = dict(P.current_manifest(root))
    m["scoped_deletes"] = [
        {**m["scoped_deletes"][0], "files": ["data/gone/part-x.parquet"]}
    ]
    df = P._read_files(spark, root, m, m["files"])
    with pytest.raises(FileNotFoundError, match="resurrect"):
        P._apply_scoped_deletes(spark, root, m, df)


def test_scoped_deletes_plan_size_constant_in_group_count(spark, root, tmp_path):
    """r14 (VERDICT r13 #6): the scoped-tombstone mask is exactly TWO
    joins regardless of how many scoped groups the manifest carries —
    keys fold into one (key -> group-set) frame, scope files into one
    (file -> group-set) frame, and a row drops only when the sets
    intersect. The r12/r13 shape chained two joins PER group, so routed
    reads slowed linearly between OPTIMIZE runs. Certifies both the
    plan bound (join count identical for 1 vs 3 groups) and the
    multi-group semantics (each group masks only its own stale
    copies)."""

    def build(r, n_groups):
        # keys 7..7+n-1 each live in month 199601 plus a PRIVATE month
        # holding ONLY that key; k-stats make each cycle's stats-narrowed
        # candidate scope exactly that private month's files, so the
        # groups get DISTINCT scopes (identical scopes consolidate by
        # design) and each delete-then-resubscribe month-1 overwrite
        # leaves one more group
        rows = [(7 + i, 199602 + i, 10 + i) for i in range(n_groups)]
        rows += [(7 + i, 199601, 50 + i) for i in range(n_groups)]
        P.publish_partition_overwrite(
            spark, spark.createDataFrame(rows, "k long, mk long, v long"),
            r, "mk",
        )
        P.publish_stats(spark, r, ["k"])
        for i in range(n_groups):
            P.publish_deletes(
                spark, spark.createDataFrame([(7 + i,)], "k long"), r, "k"
            )
            m1 = [
                (7 + j, 199601, (99 if j <= i else 50) + j)
                for j in range(n_groups)
            ]
            P.publish_partition_overwrite(
                spark,
                spark.createDataFrame(m1, "k long, mk long, v long"),
                r, "mk",
            )
        return P.current_manifest(r)

    root3 = str(tmp_path / "t3")
    m1 = build(root, 1)
    m3 = build(root3, 3)
    assert len(m1["scoped_deletes"]) == 1
    scopes = [tuple(sorted(g["files"])) for g in m3["scoped_deletes"]]
    assert len(scopes) == 3 and len(set(scopes)) == 3, scopes
    # multi-group semantics: every fresh month-1 row visible, every
    # private-month stale copy hidden
    got = {
        (r["k"], r["mk"]): r["v"]
        for r in P.read_current(spark, root3).collect()
    }
    assert got == {(7 + i, 199601): 99 + i for i in range(3)}, got
    njoins = [
        P.read_current(spark, r)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .count("Join")
        for r in (root, root3)
    ]
    assert njoins[0] == njoins[1], njoins
    # one tombstone scan for every group's key files, not one per group
    nscans = [
        P.read_current(spark, r)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .count("FileScan")
        for r in (root, root3)
    ]
    assert nscans[0] == nscans[1], nscans


def test_scoped_group_valve_caps_reader_plan_growth(
    spark, root, backend, monkeypatch
):
    """The scoped-group VALVE (r13, VERDICT r12 #7): repeated
    delete-then-resubscribe cycles accumulate scoped-tombstone groups —
    each costs every reader two broadcast joins — until the count
    exceeds SCOPED_GROUPS_MAX, at which point publish_partition_overwrite
    triggers a scoped-only mini-OPTIMIZE that rewrites exactly the
    scoped partitions and clears the groups. The matrix runs 10 cycles
    under K=3 on both commit backends: group count never exceeds K, the
    valve verifiably fires, the GLOBAL register carries untouched, and
    every cycle's read matches the simulated state."""
    K = 3
    monkeypatch.setattr(P, "SCOPED_GROUPS_MAX", K)
    MKS = tuple(range(1, 9))  # 8 partitions: scopes survive ~7 cycles,
    # so the count would grow unbounded without the valve
    state = {}  # (k, mk) -> v
    rows = [(k, mk, k * 100 + mk) for k in range(10) for mk in MKS]
    for k, mk, v in rows:
        state[(k, mk)] = v
    df = spark.createDataFrame(rows, "k long, mk long, v long")
    P.publish_partition_overwrite(spark, df, root, "mk", backend=backend)
    valve_fired = 0
    for i in range(10):
        k = i % 10
        P.publish_deletes(
            spark, spark.createDataFrame([(k,)], "k long"), root, "k",
            backend=backend,
        )
        for mk in MKS:
            state.pop((k, mk), None)
        p = (i % len(MKS)) + 1
        inc_rows = [
            (kk, mk, v) for (kk, mk), v in state.items() if mk == p
        ] + [(k, p, 1000 + i)]
        state[(k, p)] = 1000 + i
        before = len(
            (P.current_manifest(root).get("scoped_deletes")) or []
        )
        P.publish_partition_overwrite(
            spark,
            spark.createDataFrame(inc_rows, "k long, mk long, v long"),
            root,
            "mk",
            backend=backend,
        )
        m = P.current_manifest(root)
        groups = m.get("scoped_deletes") or []
        assert len(groups) <= K, (i, len(groups))
        if before >= K and not groups:
            valve_fired += 1
        got = {
            (r["k"], r["mk"]): r["v"]
            for r in P.read_current(spark, root).collect()
        }
        assert got == state, f"cycle {i}"
    assert valve_fired >= 1  # the valve demonstrably triggered


def test_optimize_scoped_only_keeps_global_register(spark, root, backend):
    """The valve's scoped-only OPTIMIZE purges ONLY the scoped groups:
    the global register (and delete_key) carries, fragmented unaffected
    partitions stay unpacked, and the read is value-identical before
    and after."""
    _scoped_root(spark, root)
    # add a global-only tombstone that must SURVIVE the scoped purge
    P.publish_deletes(
        spark, spark.createDataFrame([(9,)], "k long"), root, "k"
    )
    m0 = P.current_manifest(root)
    assert m0.get("scoped_deletes") and m0.get("deletes")
    before = {
        (r["k"], r["v"]) for r in P.read_current(spark, root).collect()
    }
    P._optimize(spark, root, backend, scoped_only=True)
    m1 = P.current_manifest(root)
    assert not m1.get("scoped_deletes")
    assert m1.get("deletes") and m1.get("delete_key") == "k"
    after = {
        (r["k"], r["v"]) for r in P.read_current(spark, root).collect()
    }
    assert after == before == {(7, 99), (8, 30)}
    # idempotent: no scoped groups left -> no new commit
    assert P._optimize(
        spark, root, backend, scoped_only=True
    ) == P._manifest_name(m1["txid"])


def test_optimize_bucketed_partitioned_purges_and_keeps_colocation(
    spark, root
):
    """Bucket-aware OPTIMIZE (r12): on a bucketed partitioned lineage,
    tombstone purges rewrite the affected partitions through the
    bucketed writer under the RECORDED spec — registers drop, values
    stay exact, the spec survives, the read path stays co-located, a
    bucketed increment still lands afterwards, and a second OPTIMIZE is
    a no-op (one file per bucket counts as packed). Re-clustering a
    bucketed table refuses loudly (the spec owns the sort order)."""
    # every key lives in BOTH months, so a resubscribe leaves a stale
    # copy in the carried month (the scoped-register case)
    a = spark.createDataFrame(
        [(k, mk, k * 100 + mk % 100) for k in range(10)
         for mk in (199601, 199602)],
        "k long, mk long, v long",
    )
    P.publish_partition_overwrite(
        spark, a, root, "mk", bucket_col="k", n_buckets=4
    )
    with pytest.raises(ValueError, match="SORTED BY"):
        P.optimize_table(spark, root, cluster_by=["v"])
    # idempotency baseline: a packed bucketed table is a no-op
    before = P.current_manifest(root)
    assert P.optimize_table(spark, root) == P._manifest_name(before["txid"])
    # GDPR delete + resubscribe -> global AND scoped registers
    P.publish_deletes(
        spark, spark.createDataFrame([(3,), (5,)], "k long"), root, "k"
    )
    inc = (
        a.where((F.col("mk") == 199601) & (F.col("k") != 5))
        .withColumn(
            "v",
            F.when(F.col("k") == 3, F.lit(7777).cast("long")).otherwise(
                F.col("v")
            ),
        )
    )
    P.publish_partition_overwrite(
        spark, inc, root, "mk", bucket_col="k", n_buckets=4
    )
    m = P.current_manifest(root)
    assert m.get("scoped_deletes") and m.get("deletes"), m
    P.optimize_table(spark, root)
    m2 = P.current_manifest(root)
    assert "deletes" not in m2 and "scoped_deletes" not in m2
    assert m2["bucket"] == {"col": "k", "n": 4, "sort": ["k"]}
    got = P.read_bucketed_partitioned(
        spark, root, "opt_" + os.path.basename(root)
    )
    want = {
        (k, mk, 7777 if (k, mk) == (3, 199601) else k * 100 + mk % 100)
        for k in range(10)
        for mk in (199601, 199602)
        if k != 5 and not (k == 3 and mk == 199602)
    }
    assert {(r["k"], r["mk"], r["v"]) for r in got.collect()} == want
    # co-location survives the purge: key aggregate with zero exchanges
    agg = got.groupBy("k").agg(F.sum("v").alias("s"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    # a bucketed increment still lands on the optimized lineage
    P.publish_partition_overwrite(
        spark,
        a.where(F.col("mk") == 199602),
        root, "mk", bucket_col="k", n_buckets=4,
    )
    # and a second OPTIMIZE commits nothing
    m3 = P.current_manifest(root)
    assert P.optimize_table(spark, root) == P._manifest_name(m3["txid"])


def test_scoped_tombstones_apply_on_routed_and_snapshot_reads(spark, root):
    """Deletion vectors must hold on EVERY read path: the predicate-
    routed read (partition route over the scope file's month), time
    travel to the scoped manifest after a later commit, and a read after
    vacuum (the scoped key files are retained like any tombstone)."""
    d1, d2 = "2024-01-01", "2024-01-02"
    P.publish_partition_overwrite(
        spark, _udays(spark, 1, {d1: [0, 2], d2: [2, 10]}), root, "dt"
    )
    P.publish_deletes(spark, spark.createDataFrame([(2,)], "k int"), root, "k")
    P.publish_partition_overwrite(
        spark, _udays(spark, 9, {d1: [0, 2]}), root, "dt"
    )
    scoped_m = P.current_manifest(root)
    assert scoped_m.get("scoped_deletes")
    # routed read over the UNTOUCHED day: the stale k=2 copy must stay
    # hidden even though the route opens exactly its file
    df, rep = P.read_where(spark, root, "dt", d2, d2)
    assert rep["route"] == "partition_pruning"
    assert {(r["k"], r["v"]) for r in df.collect()} == {(10, 101)}
    # a later commit, then time travel BACK to the scoped manifest
    P.publish_partition_overwrite(
        spark, _udays(spark, 5, {d1: [0, 2]}), root, "dt"
    )
    back = P.read_snapshot(spark, root, txid=scoped_m["txid"])
    assert {r["k"]: r["v"] for r in back.collect()} == {0: 9, 2: 29, 10: 101}
    # vacuum keeps the scoped key files alive for retained snapshots
    P.vacuum(root, retain=1)
    back2 = P.read_snapshot(spark, root, txid=scoped_m["txid"])
    assert {r["k"]: r["v"] for r in back2.collect()} == {0: 9, 2: 29, 10: 101}
    assert {r["k"]: r["v"] for r in P.read_current(spark, root).collect()} == {
        0: 5, 2: 25, 10: 101,
    }


# ---------------------------------------------------------------------------
# bucketed tables inside the catalog unit
# ---------------------------------------------------------------------------


def test_catalog_bucketed_fact_joins_zero_exchange(spark, cat, backend):
    """A star schema in the catalog unit keeps BOTH guarantees: one-swap
    consistency across tables AND zero-Exchange co-location between
    same-spec bucketed catalog tables."""
    fact96 = spark.range(80).select(
        (F.col("id") % 20).alias("ck"), (F.col("id") * 10).alias("v96")
    )
    fact97 = spark.range(80).select(
        (F.col("id") % 20).alias("ck"), (F.col("id") * 10 + 5).alias("v97")
    )
    dim = spark.range(20).select(
        F.col("id").alias("ck"), (F.col("id") % 3).alias("tier")
    )
    P.publish_tables(
        spark,
        {"f96": fact96, "f97": fact97, "dim": dim},
        cat,
        backend=backend,
        buckets={
            "f96": {"col": "ck", "n": 4},
            "f97": {"col": "ck", "n": 4},
        },
    )
    t96 = P.read_catalog_bucketed(spark, cat, "f96", "cb96_" + os.path.basename(cat))
    t97 = P.read_catalog_bucketed(spark, cat, "f97", "cb97_" + os.path.basename(cat))
    assert _snap(t96) == _snap(fact96)
    # the plain reader still works and agrees
    assert _snap(P.read_catalog_table(spark, cat, "f96")) == _snap(fact96)
    with pytest.raises(ValueError, match="bucket spec"):
        P.read_catalog_bucketed(spark, cat, "dim", "cbd")
    with scoped_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        def rev(t, out, col):
            return t.groupBy("ck").agg(F.sum(col).alias(out))
        j = rev(t96, "r96", "v96").join(rev(t97, "r97", "v97"), "ck")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert plan.count("Bucketed: true") == 2, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert j.count() == 20


def test_maintain_catalog_preserves_bucketed_table(spark, cat, backend):
    """maintain_catalog must treat a bucketed catalog table as packed
    (never coalesce(1) away its layout), carry the spec through a stats
    annotation, and keep the co-located read working afterwards."""
    fact = spark.range(80).select(
        (F.col("id") % 20).alias("ck"), (F.col("id") * 10).alias("v")
    )
    P.publish_tables(
        spark,
        {"fact": fact, "dim": _frag(spark, 2, 3)},
        cat,
        backend=backend,
        buckets={"fact": {"col": "ck", "n": 4}},
    )
    report = P.maintain_catalog(
        spark, cat, retain=5, stats_cols={"fact": ["ck"]}, backend=backend
    )
    # the fragmented plain dim compacts; the bucketed fact does NOT
    assert report["compacted"] == ["dim"]
    assert report["stats_annotated"] == ["fact"]
    rec = P.catalog_record(cat)
    m = P._load_manifest(
        os.path.join(cat, "tables", "fact"), rec["tables"]["fact"]
    )
    assert m["bucket"] == {"col": "ck", "n": 4, "sort": ["ck"]}
    assert m["stats_cols"] == ["ck"]
    got = P.read_catalog_bucketed(
        spark, cat, "fact", "mb_" + os.path.basename(cat)
    )
    assert _snap(got) == _snap(fact)
    # idempotent: nothing left to do
    report2 = P.maintain_catalog(
        spark, cat, retain=5, stats_cols={"fact": ["ck"]}, backend=backend
    )
    assert report2["compacted"] == [] and report2["stats_annotated"] == []


def _bp_fact(spark, tag: int):
    """60 rows, 3 months (199601-03), key ck 0..19."""
    return spark.range(60).select(
        (F.col("id") % 20).alias("ck"),
        (F.lit(199601) + F.col("id") % 3).alias("mk"),
        (F.col("id") * 10 + tag).alias(f"v{tag}"),
    )


def test_catalog_bucketed_partitioned_roundtrip_join_and_prune(
    spark, cat, backend
):
    """Bucketed PARTITIONED facts inside the catalog unit (r13, VERDICT
    r12 #5): publish_tables stages month-partitioned bucketed facts; the
    reader re-exposes partitioning + co-location, a same-spec join runs
    with zero shuffle Exchanges below the SortMergeJoin across ALL
    partitions, and a ``_p`` filter prunes catalog-side."""
    f96, f97 = _bp_fact(spark, 6), _bp_fact(spark, 7)
    dim = spark.range(20).select(
        F.col("id").alias("ck"), (F.col("id") % 3).alias("tier")
    )
    P.publish_tables(
        spark,
        {"f96": f96, "f97": f97, "dim": dim},
        cat,
        backend=backend,
        buckets={"f96": {"col": "ck", "n": 4}, "f97": {"col": "ck", "n": 4}},
        partitions={"f96": "mk", "f97": "mk"},
    )
    base = os.path.basename(cat)
    t96 = P.read_catalog_bucketed_partitioned(spark, cat, "f96", "cbp96_" + base)
    t97 = P.read_catalog_bucketed_partitioned(spark, cat, "f97", "cbp97_" + base)
    assert _snap(t96.drop("_p")) == _snap(f96)
    # the plain catalog reader still works and agrees
    assert _snap(P.read_catalog_table(spark, cat, "f96")) == _snap(f96)
    # partition map recorded: 3 months, one file per (month, bucket)
    rec = P.catalog_record(cat)
    m = P._load_manifest(
        os.path.join(cat, "tables", "f96"), rec["tables"]["f96"]
    )
    assert sorted(m["partitions"]) == ["199601", "199602", "199603"]
    assert m["n_files"] <= 3 * 4 and m["bucket"]["n"] == 4
    # unbucketed or unpartitioned tables refuse loudly
    with pytest.raises(ValueError, match="partitioned\\+bucketed"):
        P.read_catalog_bucketed_partitioned(spark, cat, "dim", "cbpd")
    with scoped_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):

        def rev(t, out, col):
            return t.groupBy("ck").agg(F.sum(col).alias(out))

        j = rev(t96, "r96", "v6").join(rev(t97, "r97", "v7"), "ck")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert plan.count("Bucketed: true") == 2, plan
        smj = plan[plan.index("SortMergeJoin"):]
        assert "Exchange hashpartitioning" not in smj, smj
        assert j.count() == 20
    # partition pruning on the shadow column reaches the scan
    pruned = t96.where(F.col("_p") == "199602")
    pplan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in pplan and "199602" in pplan, pplan
    assert pruned.count() == 20


def test_catalog_bucketed_partitioned_torn_pair_crash(spark, cat, backend):
    """A writer crashing after staging ONE of two bucketed-partitioned
    facts leaves readers on the previous consistent catalog record —
    never fact96-new with fact97-old (VERDICT r12 #5's torn-pair
    test)."""
    f96, f97 = _bp_fact(spark, 6), _bp_fact(spark, 7)
    kw = dict(
        backend=backend,
        buckets={"f96": {"col": "ck", "n": 4}, "f97": {"col": "ck", "n": 4}},
        partitions={"f96": "mk", "f97": "mk"},
    )
    P.publish_tables(spark, {"f96": f96, "f97": f97}, cat, **kw)
    seq_before = P.catalog_record(cat)["seq"]
    g96 = f96.withColumn("v6", F.col("v6") + 1000)
    g97 = f97.withColumn("v7", F.col("v7") + 1000)

    class Boom(RuntimeError):
        pass

    def crash(stage):
        if stage == "staged:f96":  # f96 staged, f97 not yet
            raise Boom(stage)

    with pytest.raises(Boom):
        P.publish_tables(
            spark, {"f96": g96, "f97": g97}, cat, crash_hook=crash, **kw
        )
    # readers still see the OLD pair, mutually consistent
    rec = P.catalog_record(cat)
    assert rec["seq"] == seq_before
    base = os.path.basename(cat)
    t96 = P.read_catalog_bucketed_partitioned(spark, cat, "f96", "tp96_" + base)
    t97 = P.read_catalog_bucketed_partitioned(spark, cat, "f97", "tp97_" + base)
    assert _snap(t96.drop("_p")) == _snap(f96)
    assert _snap(t97.drop("_p")) == _snap(f97)
    # the retry stages anew and commits both
    P.publish_tables(spark, {"f96": g96, "f97": g97}, cat, **kw)
    t96b = P.read_catalog_bucketed_partitioned(spark, cat, "f96", "tp96b_" + base)
    t97b = P.read_catalog_bucketed_partitioned(spark, cat, "f97", "tp97b_" + base)
    assert _snap(t96b.drop("_p")) == _snap(g96)
    assert _snap(t97b.drop("_p")) == _snap(g97)


def test_maintain_catalog_preserves_bucketed_partitioned_table(
    spark, cat, backend
):
    """maintain_catalog on a bucketed-partitioned catalog table: packed
    means one file per (partition, bucket) — a healthy table carries by
    reference; a stats annotation keeps the partition map AND the spec;
    the co-located partitioned read still works afterwards."""
    f96 = _bp_fact(spark, 6)
    P.publish_tables(
        spark,
        {"f96": f96, "dim": _frag(spark, 2, 3)},
        cat,
        backend=backend,
        buckets={"f96": {"col": "ck", "n": 4}},
        partitions={"f96": "mk"},
    )
    rec0 = P.catalog_record(cat)
    out = P.maintain_catalog(
        spark, cat, stats_cols={"f96": ["ck"]}, backend=backend
    )
    assert "dim" in out["compacted"] and "f96" not in out["compacted"]
    assert "f96" in out["stats_annotated"]
    rec1 = P.catalog_record(cat)
    assert rec1["seq"] == rec0["seq"] + 1
    m = P._load_manifest(
        os.path.join(cat, "tables", "f96"), rec1["tables"]["f96"]
    )
    assert m["bucket"] == {"col": "ck", "n": 4, "sort": ["ck"]}
    assert sorted(m["partitions"]) == ["199601", "199602", "199603"]
    assert m.get("stats_cols") == ["ck"]
    t = P.read_catalog_bucketed_partitioned(
        spark, cat, "f96", "mnt96_" + os.path.basename(cat)
    )
    assert _snap(t.drop("_p")) == _snap(f96)
    # idempotent: a second run commits nothing
    out2 = P.maintain_catalog(
        spark, cat, stats_cols={"f96": ["ck"]}, backend=backend
    )
    assert not out2["compacted"] and not out2["stats_annotated"]


# ---------------------------------------------------------------------------
# catalog-table lifecycle — deletes, partition increments, reconcile
# ---------------------------------------------------------------------------


def test_catalog_deletes_hide_keys_on_every_reader(spark, cat, backend):
    """publish_catalog_deletes: keys vanish with ONE catalog swap on the
    plain, routed, and bucketed-partitioned readers; catalog time travel
    to the pre-delete seq still shows them; one delete key per table."""
    f = _bp_fact(spark, 6)
    P.publish_tables(
        spark, {"f": f}, cat, backend=backend,
        buckets={"f": {"col": "ck", "n": 4}}, partitions={"f": "mk"},
    )
    seq0 = P.catalog_record(cat)["seq"]
    P.publish_catalog_deletes(
        spark, cat, "f", spark.createDataFrame([(3,), (5,)], "ck long"),
        "ck", backend=backend,
    )
    rec = P.catalog_record(cat)
    assert rec["seq"] == seq0 + 1
    got = P.read_catalog_table(spark, cat, "f")
    assert got.where(F.col("ck").isin(3, 5)).count() == 0
    assert got.count() == f.where(~F.col("ck").isin(3, 5)).count()
    base = os.path.basename(cat)
    gb = P.read_catalog_bucketed_partitioned(spark, cat, "f", "cd_" + base)
    assert gb.where(F.col("ck").isin(3, 5)).count() == 0
    # routed read applies the register too
    df, rep = P.read_catalog_where(spark, cat, "f", [("mk", 199601, 199601)])
    assert df.where(F.col("ck").isin(3, 5)).count() == 0
    # time travel: the pre-delete record still shows the keys
    old = P.read_catalog_table(spark, cat, "f", seq=seq0)
    assert old.where(F.col("ck").isin(3, 5)).count() > 0
    with pytest.raises(ValueError, match="one delete key"):
        P.publish_catalog_deletes(
            spark, cat, "f", spark.createDataFrame([(1,)], "v6 long"),
            "v6", backend=backend,
        )


def test_catalog_increments_overwrite_partitions_atomically(
    spark, cat, backend
):
    """publish_catalog_increments: fact increment + dim refresh commit
    with ONE swap; untouched partitions carry by reference; a crash
    after staging one table leaves readers on the old consistent pair;
    a same-txid replay skips."""
    f = _bp_fact(spark, 6)
    dim = spark.range(20).select(
        F.col("id").alias("ck"), (F.col("id") % 3).alias("tier")
    )
    P.publish_tables(
        spark, {"f": f, "dim": dim}, cat, backend=backend,
        buckets={"f": {"col": "ck", "n": 4}},
        partitions={"f": "mk", "dim": "tier"},
    )
    inc = spark.createDataFrame(
        [(k, 199602, 7000 + k) for k in range(20)],
        "ck long, mk long, v6 long",
    )
    dim2 = dim.withColumn("tier", (F.col("tier") + 1) % 3)

    class Boom(RuntimeError):
        pass

    def crash(stage):
        if stage == "staged:dim":
            raise Boom(stage)

    seq1 = P.catalog_record(cat)["seq"]
    with pytest.raises(Boom):
        P.publish_catalog_increments(
            spark, cat, {"f": inc, "dim": dim2}, crash_hook=crash,
            backend=backend,
        )
    # readers still on the OLD pair
    assert P.catalog_record(cat)["seq"] == seq1
    assert _snap(P.read_catalog_table(spark, cat, "f")) == _snap(f)
    # the retry commits both at once
    P.publish_catalog_increments(
        spark, cat, {"f": inc, "dim": dim2}, txid="b7", backend=backend
    )
    rec = P.catalog_record(cat)
    assert rec["seq"] == seq1 + 1
    got = P.read_catalog_table(spark, cat, "f")
    assert got.where(F.col("mk") == 199602).count() == 20
    assert {
        r["v6"] for r in got.where(F.col("mk") == 199602).collect()
    } == {7000 + k for k in range(20)}
    # untouched months carried byte-identical (same file entries)
    m = P._load_manifest(
        os.path.join(cat, "tables", "f"), rec["tables"]["f"]
    )
    assert sorted(m["partitions"]) == ["199601", "199602", "199603"]
    txid_of = lambda fp: fp.split(os.sep)[1]  # data/<txid>/_p=…/part-…
    assert all(txid_of(fp) == "b7" for fp in m["partitions"]["199602"])
    assert all(txid_of(fp) != "b7" for fp in m["partitions"]["199601"])
    # bucket spec inherited: the increment's month is still co-located
    assert m["bucket"]["n"] == 4
    # replay skips (no new commit)
    P.publish_catalog_increments(
        spark, cat, {"f": inc, "dim": dim2}, txid="b7", backend=backend
    )
    assert P.catalog_record(cat)["seq"] == seq1 + 1
    # increment on a whole-table-staged table refuses
    with pytest.raises(ValueError, match="whole-table"):
        P.publish_tables(
            spark, {"w": dim}, cat, backend=backend
        ) and P.publish_catalog_increments(
            spark, cat, {"w": dim2}, backend=backend
        )


def test_catalog_increment_reconciles_tombstones_stats_narrowed(
    spark, cat, backend
):
    """The daily-ingest GDPR flow INSIDE the catalog: delete keys, then
    an increment re-inserts one of them — the re-inserted key leaves the
    register (downgrading to a file-scoped group over the CARRIED
    candidates when stale copies survive), and when maintain_catalog has
    annotated the delete key the candidate set is STATS-NARROWED instead
    of every carried file."""
    # keys clustered by partition so per-file ck stats are narrow:
    # mk 1: ck 0..9, mk 2: ck 10..19, mk 3: ck 20..29
    rows = [
        (ck + 10 * (mk - 1), 199600 + mk, ck) for mk in (1, 2, 3)
        for ck in range(10)
    ]
    f = spark.createDataFrame(rows, "ck long, mk long, v long")
    P.publish_tables(
        spark, {"f": f}, cat, backend=backend, partitions={"f": "mk"}
    )
    # annotate ck stats through catalog maintenance
    P.maintain_catalog(
        spark, cat, stats_cols={"f": ["ck"]}, compact=False,
        backend=backend,
    )
    # GDPR: ck=5 (lives ONLY in month 1) and ck=15 (only month 2)
    P.publish_catalog_deletes(
        spark, cat, "f", spark.createDataFrame([(5,), (15,)], "ck long"),
        "ck", backend=backend,
    )
    # resubscribe ck=5 via a month-1 overwrite: month 1 is TOUCHED, so
    # no stale copy survives anywhere -> ck=5 simply leaves the register
    inc1 = spark.createDataFrame(
        [(ck, 199601, ck + 100) for ck in range(10)],
        "ck long, mk long, v long",
    )
    P.publish_catalog_increments(spark, cat, {"f": inc1}, backend=backend)
    rec = P.catalog_record(cat)
    m = P._load_manifest(os.path.join(cat, "tables", "f"), rec["tables"]["f"])
    assert not m.get("scoped_deletes")  # no stale copies -> no group
    got = P.read_catalog_table(spark, cat, "f")
    assert got.where(F.col("ck") == 5).count() == 1  # re-inserted
    assert got.where(F.col("ck") == 15).count() == 0  # still deleted
    # re-annotate: inc1's fresh month-1 files are stats-less and would
    # join the candidate set conservatively — the steady-state cadence
    # (maintain after ingest) keeps the register complete
    P.maintain_catalog(
        spark, cat, stats_cols={"f": ["ck"]}, compact=False,
        backend=backend,
    )
    # resubscribe ck=15 via a month-THREE overwrite: month 2's stale
    # copy survives in a carried file -> file-scoped group, and the
    # stats narrow its scope to month 2's file only (never month 1's)
    inc3 = spark.createDataFrame(
        [(15, 199603, 999)], "ck long, mk long, v long"
    )
    P.publish_catalog_increments(spark, cat, {"f": inc3}, backend=backend)
    rec = P.catalog_record(cat)
    m = P._load_manifest(os.path.join(cat, "tables", "f"), rec["tables"]["f"])
    groups = m.get("scoped_deletes") or []
    assert groups, m
    scope = {f for g in groups for f in g["files"]}
    month2 = set(m["partitions"]["199602"])
    month1 = set(m["partitions"]["199601"])
    assert scope <= month2 and not (scope & month1), (
        "stats narrowing failed: scope should cover only month 2's "
        f"stale-holding file, got {scope}"
    )
    got = P.read_catalog_table(spark, cat, "f")
    # fresh row visible, stale month-2 copy hidden
    assert {
        (r["mk"], r["v"])
        for r in got.where(F.col("ck") == 15).collect()
    } == {(199603, 999)}
    # maintain_catalog compaction purges the registers physically
    out = P.maintain_catalog(
        spark, cat, stats_cols={"f": ["ck"]}, backend=backend
    )
    assert "f" in out["compacted"]
    rec = P.catalog_record(cat)
    m = P._load_manifest(os.path.join(cat, "tables", "f"), rec["tables"]["f"])
    assert not m.get("deletes") and not m.get("scoped_deletes")
    after = P.read_catalog_table(spark, cat, "f")
    assert _snap(after) == _snap(got)


def test_catalog_scoped_group_valve(spark, cat, backend, monkeypatch):
    """The catalog twin of the scoped-group valve (r13): repeated
    delete/resubscribe cycles through publish_catalog_increments keep
    the table's scoped-group count capped at K — a scoped-only purge
    commits as its own record swap, the global register carries, and
    every cycle's read matches the simulated state."""
    K = 2
    monkeypatch.setattr(P, "SCOPED_GROUPS_MAX", K)
    MKS = tuple(range(1, 7))
    state = {}
    rows = [(k, 199600 + mk, k * 100 + mk) for k in range(8) for mk in MKS]
    for k, mk, v in rows:
        state[(k, mk)] = v
    P.publish_tables(
        spark,
        {"f": spark.createDataFrame(rows, "k long, mk long, v long")},
        cat,
        backend=backend,
        partitions={"f": "mk"},
    )
    valve_fired = 0
    for i in range(7):
        k = i % 8
        P.publish_catalog_deletes(
            spark, cat, "f", spark.createDataFrame([(k,)], "k long"), "k",
            backend=backend,
        )
        for mk in MKS:
            state.pop((k, 199600 + mk), None)
        p = 199600 + (i % len(MKS)) + 1
        inc_rows = [
            (kk, mk, v) for (kk, mk), v in state.items() if mk == p
        ] + [(k, p, 5000 + i)]
        state[(k, p)] = 5000 + i
        before = len(
            P._load_manifest(
                os.path.join(cat, "tables", "f"),
                P.catalog_record(cat)["tables"]["f"],
            ).get("scoped_deletes")
            or []
        )
        P.publish_catalog_increments(
            spark,
            cat,
            {"f": spark.createDataFrame(inc_rows, "k long, mk long, v long")},
            backend=backend,
        )
        m = P._load_manifest(
            os.path.join(cat, "tables", "f"),
            P.catalog_record(cat)["tables"]["f"],
        )
        groups = m.get("scoped_deletes") or []
        assert len(groups) <= K, (i, len(groups))
        if before >= K and not groups:
            valve_fired += 1
        got = {
            (r["k"], r["mk"]): r["v"]
            for r in P.read_catalog_table(spark, cat, "f").collect()
        }
        assert got == state, f"cycle {i}"
    assert valve_fired >= 1


def test_catalog_valve_rewrites_carry_fresh_stats(
    spark, cat, backend, monkeypatch
):
    """The catalog valve's scoped purge is OPTIMIZE's scoped-only
    rewrite: on a table carrying a stats register, every partition it
    rewrites comes back as one file WITH fresh stats (a stats-less
    rewrite would degrade read_catalog_where to full scans until the
    next maintenance), the groups clear, and the read is unchanged."""
    monkeypatch.setattr(P, "SCOPED_GROUPS_MAX", 0)
    rows = [
        (k, mk, k * 100 + mk % 100) for k in range(6) for mk in (199601, 199602)
    ]
    P.publish_tables(
        spark, {"f": spark.createDataFrame(rows, "k long, mk long, v long")},
        cat, backend=backend, partitions={"f": "mk"},
    )
    P.maintain_catalog(
        spark, cat, stats_cols={"f": ["k"]}, compact=False, backend=backend
    )
    P.publish_catalog_deletes(
        spark, cat, "f", spark.createDataFrame([(2,)], "k long"), "k",
        backend=backend,
    )
    # resubscribe key 2 in 199601 only: its stale copy in the carried
    # 199602 becomes a scoped group, and the valve (cap 0) purges it
    inc = [(k, 199601, 5000 + k) for k in range(6)]
    P.publish_catalog_increments(
        spark, cat, {"f": spark.createDataFrame(inc, "k long, mk long, v long")},
        backend=backend,
    )
    rec = P.catalog_record(cat)
    m = P._load_manifest(os.path.join(cat, "tables", "f"), rec["tables"]["f"])
    assert not m.get("scoped_deletes")
    rewritten = m["partitions"]["199602"]
    assert m["stats_cols"] == ["k"]
    assert all("k" in m["stats"].get(f, {}) for f in rewritten)
    (f,) = rewritten  # OPTIMIZE's one file per partition
    assert f.split(os.sep)[1] == m["txid"]  # in the valve's own dir
    assert m["stats"][f]["k"] == [0, 5]
    want = {(k, mk, v) for k, mk, v in rows if mk == 199602 and k != 2}
    want |= set(inc)
    assert set(_snap(P.read_catalog_table(spark, cat, "f"))) == want


def _collided(spark, root, cat, backend, second, kind):
    """Commit ``t3`` (seq 1) then ``x1`` (seq 2), so the next fenced
    derivation is ``t3`` again. ``second`` is the x1 commit's scope:
    ``"part"`` keeps data/t3 referenced (x1 replaces one partition /
    publishes an unrelated table), ``"all"`` leaves t3 a retained
    ancestor only (x1 replaces every partition / the whole table).
    Returns the seq-1 and seq-2 rows of the pointer root or of
    catalog table ``f``."""
    f = spark.createDataFrame(
        [(k, mk, k * 100 + mk % 100) for k in range(6) for mk in (199601, 199602)],
        "k long, mk long, v long",
    ).repartition(1)
    x1 = (
        f.where(F.col("mk") == 199601)
        if second == "part"
        else f.withColumn("v", F.col("v") + 1)
    )
    if kind == "pointer":
        P.publish_partition_overwrite(spark, f, root, "mk", txid="t3")
        P.publish_partition_overwrite(spark, x1, root, "mk", txid="x1")
        return _snap(f), _snap(P.read_current(spark, root))
    P.publish_tables(
        spark, {"f": f}, cat, txid="t3", backend=backend, partitions={"f": "mk"}
    )
    frames = {"g": _dim(spark, 1)} if second == "part" else {"f": x1}
    P.publish_tables(
        spark, frames, cat, txid="x1", backend=backend,
        partitions={"f": "mk"} if "f" in frames else None,
    )
    return _snap(f), _snap(P.read_catalog_table(spark, cat, "f"))


@pytest.mark.parametrize("second", ["part", "all"])
@pytest.mark.parametrize(
    "writer",
    [
        "publish_tables",
        "catalog_deletes",
        "catalog_increments",
        "maintain_catalog",
        "partition_overwrite",
        "publish_stats",
    ],
)
def test_derived_txid_never_reclaims_committed_data(
    spark, root, cat, backend, monkeypatch, writer, second
):
    """A derived txid forced onto an earlier EXPLICIT one (``t3``
    committed at seq 1, ``x1`` at seq 2) must never reclaim or
    overwrite what the committed state or a retained ancestor holds:
    every writer that derives a txid refuses with ConcurrentPublishError
    before removing anything, and the committed state and the seq-1
    version read back identically. The derivation itself skips held
    names (next test), so the collision is forced here on both
    backends: the refusal is the backstop."""
    monkeypatch.setattr(P, "_derive_txid", lambda *a: "t3")
    pointer = ("partition_overwrite", "publish_stats")
    kind = "pointer" if writer in pointer else "catalog"
    v1, v2 = _collided(spark, root, cat, backend, second, kind)
    month1 = spark.createDataFrame(
        [(k, 199601, k) for k in range(6)], "k long, mk long, v long"
    )
    write = {
        "partition_overwrite": lambda: P.publish_partition_overwrite(
            spark, month1, root, "mk"
        ),
        "publish_stats": lambda: P.publish_stats(spark, root, ["k"]),
        "publish_tables": lambda: P.publish_tables(
            spark, {"h": _dim(spark, 2)}, cat, backend=backend
        ),
        "catalog_deletes": lambda: P.publish_catalog_deletes(
            spark, cat, "f", spark.createDataFrame([(1,)], "k long"), "k",
            backend=backend,
        ),
        "catalog_increments": lambda: P.publish_catalog_increments(
            spark, cat, {"f": month1}, backend=backend
        ),
        "maintain_catalog": lambda: P.maintain_catalog(
            spark, cat, stats_cols={"f": ["k"]}, compact=False,
            backend=backend,
        ),
    }[writer]
    with pytest.raises(P.ConcurrentPublishError):
        write()
    if kind == "pointer":
        assert _snap(P.read_current(spark, root)) == v2
        assert _snap(P.read_snapshot(spark, root, seq=1)) == v1
        return
    assert P.catalog_record(cat)["txid"] == "x1"
    assert _snap(P.read_catalog_table(spark, cat, "f")) == v2
    assert _snap(P.read_catalog_table(spark, cat, "f", seq=1)) == v1


@pytest.mark.parametrize("second", ["part", "all"])
@pytest.mark.parametrize("kind", ["pointer", "catalog"])
def test_derived_txid_skips_held_names(
    spark, root, cat, backend, kind, second
):
    """After the same collision, derived writes stay live: two in a row
    commit (under the fence the first is named ``t3-1``, not the held
    ``t3``), each on top of the one before, and time travel to seq 1
    and seq 2 still reads the explicit commits back."""
    v1, v2 = _collided(spark, root, cat, backend, second, kind)
    month1 = spark.createDataFrame(
        [(k, 199601, k) for k in range(6)], "k long, mk long, v long"
    )
    gone = spark.createDataFrame([(1,)], "k long")
    if kind == "pointer":
        P.publish_partition_overwrite(spark, month1, root, "mk")
        first = P.current_manifest(root)
        P.publish_deletes(spark, gone, root, "k")
        head = P.current_manifest(root)
        now, old = P.read_current(spark, root), (
            lambda seq: P.read_snapshot(spark, root, seq=seq)
        )
    else:
        P.publish_catalog_increments(spark, cat, {"f": month1}, backend=backend)
        first = P.catalog_record(cat)
        P.publish_catalog_deletes(spark, cat, "f", gone, "k", backend=backend)
        head = P.catalog_record(cat)
        now, old = P.read_catalog_table(spark, cat, "f"), (
            lambda seq: P.read_catalog_table(spark, cat, "f", seq=seq)
        )
    assert (first["seq"], head["seq"]) == (3, 4)
    if backend is P.LOCAL:
        assert (first["txid"], head["txid"]) == ("t3-1", "t4")
    v3 = {r for r in v2 if r[1] != 199601} | set(_snap(month1))
    assert set(_snap(now)) == {r for r in v3 if r[0] != 1}
    assert _snap(old(1)) == v1
    assert _snap(old(2)) == v2


def test_maintain_catalog_stats_only_carries_registers(spark, cat, backend):
    """A compact=False stats annotation over a register-carrying catalog
    table must CARRY the tombstones — dropping them would resurrect
    deleted rows on the next read (r13)."""
    f = _bp_fact(spark, 6)
    P.publish_tables(
        spark, {"f": f}, cat, backend=backend, partitions={"f": "mk"}
    )
    P.publish_catalog_deletes(
        spark, cat, "f", spark.createDataFrame([(3,)], "ck long"), "ck",
        backend=backend,
    )
    P.maintain_catalog(
        spark, cat, stats_cols={"f": ["ck"]}, compact=False,
        backend=backend,
    )
    rec = P.catalog_record(cat)
    m = P._load_manifest(os.path.join(cat, "tables", "f"), rec["tables"]["f"])
    assert m.get("deletes") and m.get("delete_key") == "ck"
    assert m.get("stats_cols") == ["ck"]
    assert (
        P.read_catalog_table(spark, cat, "f")
        .where(F.col("ck") == 3)
        .count()
        == 0
    )


def test_streaming_catalog_loop_carries_bucket_spec(spark, cat, tmp_path):
    """The streaming star-schema cadence stages bucketed facts when
    asked: two batches through catalog_apply_batch with a buckets map —
    the committed fact reads co-located and the replayed batch skips."""
    from saas_analytics_pipeline_spark.streaming.jobs import (
        catalog_apply_batch,
    )

    marker = str(tmp_path / "markers")
    os.makedirs(marker, exist_ok=True)

    def derive(tag):
        fact = spark.range(40).select(
            (F.col("id") % 10).alias("ck"),
            (F.col("id") * 10 + tag).alias("v"),
        )
        dim = spark.range(10).select(
            F.col("id").alias("ck"), (F.col("id") % 3).alias("tier")
        )
        return {"fact": fact, "dim": dim}

    for bid, tag in ((0, 1), (1, 2)):
        catalog_apply_batch(
            spark.createDataFrame([(bid,)], "b long"), bid, cat,
            lambda _df, t=tag: derive(t), marker,
            maintain_every=0, buckets={"fact": {"col": "ck", "n": 4}},
        )
    # replay of batch 1 skips (marker)
    catalog_apply_batch(
        spark.createDataFrame([(1,)], "b long"), 1, cat,
        lambda _df: derive(99), marker,
        maintain_every=0, buckets={"fact": {"col": "ck", "n": 4}},
    )
    got = P.read_catalog_bucketed(
        spark, cat, "fact", "st_" + os.path.basename(cat)
    )
    assert _snap(got) == _snap(derive(2)["fact"])


def test_scoped_groups_with_identical_scopes_consolidate(spark, root):
    """Repeated resubscribes against the SAME carried candidates must not
    grow the reader's per-group join count: groups with identical file
    sets merge (their masks are (k in T1 union T2) and f in S); groups
    with different scopes stay separate."""
    d1, d2 = "2024-01-01", "2024-01-02"
    P.publish_partition_overwrite(
        spark, _udays(spark, 1, {d1: [0, 2, 3], d2: [2, 3, 10]}), root, "dt"
    )
    # two delete+resubscribe cycles against the same untouched day
    for tag, k in ((9, 2), (8, 3)):
        P.publish_deletes(
            spark, spark.createDataFrame([(k,)], "k int"), root, "k"
        )
        P.publish_partition_overwrite(
            spark, _udays(spark, tag, {d1: [0, 2, 3]}), root, "dt"
        )
    m = P.current_manifest(root)
    groups = m["scoped_deletes"]
    assert len(groups) == 1, groups  # same scope (day 2's file) -> merged
    assert len(groups[0]["tombs"]) == 2  # both cycles' key files kept
    got = {r["k"]: r["v"] for r in P.read_current(spark, root).collect()}
    # last resubscribe wins day 1; both stale copies in day 2 hidden
    assert got == {0: 8, 2: 28, 3: 38, 10: 101}
