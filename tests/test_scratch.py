"""Anti-squat certification of the per-user scratch base (scratch.py):
a predictable default base owned by another uid, or left
group/other-writable, must FAIL loudly instead of silently sharing
state (ADVICE r08 — mode= is ignored by makedirs for existing dirs).
Every check runs through both entry points: scratch_path and
fresh_scratch, which must keep scratch_path's check before it removes
anything."""

from __future__ import annotations

import os

import pytest

from saas_analytics_pipeline_spark import scratch

MAKERS = (scratch.scratch_path, scratch.fresh_scratch)


def test_scratch_path_creates_0700_base(tmp_path, monkeypatch):
    for i, make in enumerate(MAKERS):
        base = str(tmp_path / f"fresh{i}")
        monkeypatch.setenv("SPARK_GRAFT_SCRATCH", base)
        p = make("fam", "data/sf0.001")
        assert p.startswith(base)
        assert os.stat(base).st_uid == os.getuid()


def test_fresh_scratch_clears_leftover_state(tmp_path, monkeypatch):
    """A rerun starts from nothing: files and subdirs an earlier run left
    under the family dir are gone, other families are untouched."""
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    p = scratch.fresh_scratch("fam", "data/sf0.001")
    os.makedirs(os.path.join(p, "manifests"))
    open(os.path.join(p, "manifests", "00001.json"), "w").close()
    other = scratch.scratch_path("other", "data/sf0.001")
    os.makedirs(other)
    assert scratch.fresh_scratch("fam", "data/sf0.001") == p
    assert not os.path.exists(p)
    assert os.path.isdir(other)


def test_default_base_rejects_world_writable_squat(tmp_path, monkeypatch):
    """Simulate a squatted pre-creation: the default (predictable) base
    already exists world-writable. scratch_path must refuse it."""
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)
    monkeypatch.setattr(
        "tempfile.gettempdir", lambda: str(tmp_path)
    )
    base = scratch.scratch_base()
    leftover = os.path.join(base, "fam_sf0_001")
    os.makedirs(leftover)
    for make in MAKERS:
        os.chmod(base, 0o777)
        with pytest.raises(PermissionError, match="group/other-writable"):
            make("fam", "sf0.001")
        assert os.path.isdir(leftover)  # refused before removing anything
        # closing the hole makes the same call succeed
        os.chmod(base, 0o700)
        assert make("fam", "sf0.001").startswith(base)


def test_explicit_env_base_checks_ownership_only(tmp_path, monkeypatch):
    """An operator-chosen SPARK_GRAFT_SCRATCH may legitimately be
    group-writable (shared deployments); only foreign ownership is
    refused there."""
    base = tmp_path / "shared"
    base.mkdir()
    os.chmod(base, 0o770)
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(base))
    for make in MAKERS:
        assert make("fam", "sf0.001").startswith(str(base))
