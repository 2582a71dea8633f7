"""Spans around the package's public layer functions, recorded from outside.

``Tracer.install`` replaces public functions of the layers with wrappers
that record a span {name, start, end, parent, op_id, ...counter deltas}.
It must run before ``qcatalog.load_all()`` imports the operator modules, so
that their ``from ... import load_table`` binds to the wrapper. When the
tracer is disabled a wrapper only forwards the call, which lets one process
time traced and untraced passes side by side.

Counters (py4j commands, fsyncs, fsync'd files and bytes, commit conflicts)
are process-wide; each span stores how much they moved while it was open.
"""

from __future__ import annotations

import functools
import json
import os
import stat
import statistics
import time
from contextlib import contextmanager

COUNTERS = ("py4j", "fsyncs", "files_written", "bytes_written", "conflicts")
JOB_STATS = ("jobs", "stages", "tasks", "failed_tasks", "shuffle_write_bytes", "spill_bytes")

# plans.publish public functions that commit (write a manifest or pointer)
# and that read; anything else there is a helper and stays unwrapped
_COMMIT_PREFIXES = (
    "publish_", "ensure_published", "optimize_table", "vacuum",
    "maintain_", "gc_",
)
_READ_PREFIXES = ("read_", "current_manifest", "snapshot_manifest", "catalog_record")


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.op_id: int | None = None
        self.spans: list[dict] = []
        self.counts = dict.fromkeys(COUNTERS, 0)
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "layer": layer,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._open[-1] if self._open else None,
            "op_id": self.op_id,
            **attrs,
        }
        before = dict(self.counts)
        self._open.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            self._open.pop()
            rec["end"] = time.perf_counter()
            for k, v in self.counts.items():
                if v != before[k]:
                    rec[k] = v - before[k]

    def count(self, name: str, n: int = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    def wrap(self, fn, name: str, layer: str, sized: str | None = None):
        """Wrap ``fn`` in a span; ``sized`` stores len(result) under that key."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name, layer) as rec:
                out = fn(*args, **kwargs)
                if sized:
                    rec[sized] = len(out)
                return out

        return wrapper

    def install(self) -> None:
        """Wrap the layers' public functions (call before load_all)."""
        from saas_analytics_pipeline_spark import sources
        from saas_analytics_pipeline_spark.plans import publish
        from saas_analytics_pipeline_spark.quality import checks
        from saas_analytics_pipeline_spark.registry import ModelRegistry

        sources.load_table = self.wrap(sources.load_table, "sources.load_table", "sources")
        for name, fn in list(vars(publish).items()):
            if not callable(fn) or getattr(fn, "__module__", None) != publish.__name__:
                continue
            if name.startswith(_COMMIT_PREFIXES):
                kind = "commit"
            elif name.startswith(_READ_PREFIXES):
                kind = "read"
            else:
                continue
            setattr(publish, name, self.wrap(fn, f"plans.publish.{kind}", "plans.publish"))
        ModelRegistry.build = self.wrap(ModelRegistry.build, "registry.build", "registry", "models")
        checks.run_checks = self.wrap(
            checks.run_checks, "quality.checks.run", "quality.checks", "count"
        )

        conflict_init = publish.CommitConflictError.__init__

        def counting_init(exc, *args, **kwargs):
            self.count("conflicts")
            conflict_init(exc, *args, **kwargs)

        publish.CommitConflictError.__init__ = counting_init

        real_fsync = os.fsync

        def fsync(fd):
            if self.enabled:
                self.count("fsyncs")
                st = os.fstat(fd)
                if stat.S_ISREG(st.st_mode):
                    self.count("files_written")
                    self.count("bytes_written", st.st_size)
            return real_fsync(fd)

        os.fsync = fsync

    def install_py4j(self, spark) -> None:
        """Count gateway commands (needs the session's gateway client).
        Object-release commands are left out: Python's garbage collector
        sends them whenever it runs, so they would make the count vary."""
        from py4j import protocol

        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME

        def send_command(command, *args, **kwargs):
            if not command.startswith(release):
                self.count("py4j")
            return send(command, *args, **kwargs)

        client.send_command = send_command

    def dump(self, path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def job_stats(sc, group: str) -> dict:
    """Jobs, stages that ran, tasks, failed tasks, shuffle-write and spill
    bytes of one job group, read from the status store (works with the UI
    off). Waits for the listener bus so the store has every stage."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), jsc.statusStore()
    out = dict.fromkeys(JOB_STATS, 0)
    for job in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job)
        for stage in info.stageIds if info else ():
            sd = store.lastStageAttempt(stage)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


def _outermost(spans: list[dict], i: int) -> bool:
    """True when no enclosing span belongs to the same layer."""
    layer, p = spans[i]["layer"], spans[i]["parent"]
    while p is not None:
        if spans[p]["layer"] == layer:
            return False
        p = spans[p]["parent"]
    return True


def layer_totals(spans: list[dict], op_ids: set[int], modules: dict[int, str]) -> dict[str, float]:
    """Per-layer sums over the spans of the given ops (one pass)."""
    t: dict[str, float] = {}

    def add(name: str, v: float) -> None:
        t[name] = t.get(name, 0) + v

    for i, s in enumerate(spans):
        if s["op_id"] not in op_ids or not _outermost(spans, i):
            continue
        dur = s["end"] - s["start"]
        name = s["name"]
        if name == "op":
            for k in JOB_STATS:
                add(f"exec.{k}", s.get(k, 0))
        elif name == "qcatalog.construct":
            add("qcatalog.construct_s", dur)
            add("qcatalog.py4j_calls", s.get("py4j", 0))
        elif name == "sources.load_table":
            add("sources.load_calls", 1)
            add("sources.load_s", dur)
        elif name == "exec.plan":
            add("exec.plan_s", dur)
        elif name == "exec.run":
            add("exec.run_s", dur)
            add(f"operators.{modules[s['op_id']]}.run_s", dur)
        elif name == "plans.publish.commit":
            add("plans.publish.commits", 1)
            add("plans.publish.commit_s", dur)
            for k in ("fsyncs", "files_written", "bytes_written", "conflicts"):
                add(f"plans.publish.{k}", s.get(k, 0))
        elif name == "plans.publish.read":
            add("plans.publish.reads", 1)
            add("plans.publish.read_s", dur)
        elif name == "registry.build":
            add("registry.build_s", dur)
            add("registry.models", s.get("models", 0))
        elif name == "quality.checks.run":
            add("quality.checks.run_s", dur)
            add("quality.checks.count", s.get("count", 0))
    return t


def median_totals(per_pass: list[dict[str, float]], names: list[str]) -> dict[str, float]:
    return {n: statistics.median(p.get(n, 0) for p in per_pass) for n in names}
