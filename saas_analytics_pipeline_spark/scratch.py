"""Per-user scratch locations for derived lake/stream state.

Every key that materializes state outside the repo (bucketed tables, CDC
snapshots, incremental marts, format round-trips) used to build a fixed,
world-shared path under ``tempfile.gettempdir()`` keyed only by the
sf_dir basename. On a multi-user host that is the classic shared-tmp
hazard: two concurrent sessions on the same dataset overwrite each
other's state under lazy reads, and another local user can pre-create
(squat) the predictable path (ADVICE r07). This module is the single
fix: one base directory scoped per-uid (``getpass.getuser()`` with a
uid fallback), overridable via ``SPARK_GRAFT_SCRATCH`` for deployments
that want an explicit location, plus an identifier sanitizer shared by
the managed-table keys so a hostile sf_dir basename can neither escape
the path nor break the ``DROP TABLE`` / ``CREATE TABLE`` SQL it is
interpolated into.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile


def _user_tag() -> str:
    try:
        import getpass

        return re.sub(r"[^A-Za-z0-9_.-]", "_", getpass.getuser())
    except Exception:
        return f"uid{os.getuid()}" if hasattr(os, "getuid") else "user"


def scratch_base() -> str:
    """The per-user scratch root. ``SPARK_GRAFT_SCRATCH`` overrides;
    otherwise ``<tmpdir>/spark_graft_<user>``. The default path is
    predictable, so scratch_path() VERIFIES ownership and permissions
    after the makedirs (``mode=`` is ignored for a pre-existing dir —
    ADVICE r08): a base squatted by another uid, or left group/other
    writable, raises instead of silently sharing state."""
    env = os.environ.get("SPARK_GRAFT_SCRATCH")
    if env:
        return env
    return os.path.join(tempfile.gettempdir(), f"spark_graft_{_user_tag()}")


def _check_base(base: str, explicit: bool) -> None:
    """Anti-squat check for the scratch base: the dir must be owned by
    the current uid; the predictable default path must additionally be
    closed to group/other writes (an explicitly configured
    SPARK_GRAFT_SCRATCH is the operator's deliberate choice of
    location, so only ownership is enforced there)."""
    if not hasattr(os, "getuid"):
        return
    st = os.stat(base)
    if st.st_uid != os.getuid():
        raise PermissionError(
            f"scratch base {base!r} is owned by uid {st.st_uid}, not the "
            f"current uid {os.getuid()} — refusing to share state with a "
            "squatted directory (set SPARK_GRAFT_SCRATCH to override)"
        )
    if not explicit and st.st_mode & 0o022:
        raise PermissionError(
            f"scratch base {base!r} is group/other-writable "
            f"(mode {oct(st.st_mode & 0o777)}) — refusing the squattable "
            "default; chmod 0700 it or set SPARK_GRAFT_SCRATCH"
        )


def safe_tag(raw: str) -> str:
    """Collapse anything that is not a SQL-identifier/path-safe char —
    table names built from this survive bare interpolation into
    ``DROP TABLE {t}`` and never contain a path separator."""
    return re.sub(r"[^A-Za-z0-9_]", "_", raw)


def sf_tag(sf_dir: str) -> str:
    """The sanitized dataset tag for an sf_dir (basename only)."""
    return safe_tag(os.path.basename(os.path.normpath(sf_dir)))


def scratch_path(name: str, sf_dir: str | None = None) -> str:
    """A deterministic per-user scratch dir for one derived-state family,
    e.g. ``scratch_path("lake_evo", sf_dir)`` ->
    ``<base>/lake_evo_sf0_01``. Deterministic ON PURPOSE (within a uid):
    the incremental keys re-open state across sessions; the per-uid base
    is what removes the cross-user hazard."""
    base = scratch_base()
    os.makedirs(base, mode=0o700, exist_ok=True)
    _check_base(base, explicit="SPARK_GRAFT_SCRATCH" in os.environ)
    tag = f"{safe_tag(name)}_{sf_tag(sf_dir)}" if sf_dir else safe_tag(name)
    return os.path.join(base, tag)


def fresh_scratch(name: str, sf_dir: str) -> str:
    """``scratch_path(name, sf_dir)`` emptied of whatever an earlier run
    left there: the fresh-lineage prologue of every key that rebuilds its
    state from nothing. The ownership and permission check on the base is
    scratch_path's, so a squatted base still raises before anything is
    removed."""
    path = scratch_path(name, sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    return path
