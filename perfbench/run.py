"""Warehouse benchmark: one closed-loop client driving the package on local[nproc].

Run from the repository root:

    python3 perfbench/run.py --workload analyst --seed 1 --seconds 24 --trace 0

Workloads are defined in workloads.py and explained in README.md. A run
prepares its data (not timed), starts a session, imports the catalog, runs
one pass that checks every op's output against its DuckDB oracle and one
warm pass (``setup_s``), then runs passes over the op list,
in an order drawn from ``--seed``, for about ``--seconds``. Each op writes to
the ``noop`` sink. The last stdout line is one JSON object: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. A traced run
alternates untraced and traced passes and reports the difference as the
tracing overhead. Details (environment, samples, spans) go under
``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "saas_analytics_pipeline_spark"
TOOLS = ROOT / "tools"
WORK = ROOT / ".perfbench_work"

sys.path.insert(0, str(HERE))

import inputs  # noqa: E402
from tracing import Tracer, job_stats, layer_totals, median_totals  # noqa: E402
from verify import Verifier  # noqa: E402
from workloads import GATE, WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "setup.construct_s": "s",
    "setup.py4j_calls": "count",
    "setup.publish.commits": "count",
    "setup.publish.commit_s": "s",
    "setup.publish.reads": "count",
    "setup.publish.read_s": "s",
    "qcatalog.construct_s": "s",
    "qcatalog.py4j_calls": "count",
    "sources.load_calls": "count",
    "sources.load_s": "s",
    "exec.plan_s": "s",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "plans.publish.commits": "count",
    "plans.publish.commit_s": "s",
    "plans.publish.fsyncs": "count",
    "plans.publish.files_written": "count",
    "plans.publish.bytes_written": "bytes",
    "plans.publish.conflicts": "count",
    "plans.publish.reads": "count",
    "plans.publish.read_s": "s",
    "registry.build_s": "s",
    "registry.models": "count",
    "quality.checks.run_s": "s",
    "quality.checks.count": "count",
    "mem.jvm_peak_rss_mb": "MB",
    "mem.python_peak_rss_mb": "MB",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}
# operators.<module>.run_s: exec.run_s split by the module defining each key
OPERATOR_MODULES = ("ci", "corpus", "curation", "dedup", "lake", "marts")
PER_LAYER.update({f"operators.{m}.run_s": "s" for m in OPERATOR_MODULES})


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--tiny", action="store_true",
        help="smoke mode: bundled sf0.001 tables for every workload",
    )
    return ap.parse_args(argv)


def pin_hash_seed() -> None:
    """Re-run this process with a fixed str hash seed, so set and dict
    iteration order (and with it plan construction and py4j traffic) is the
    same in every run."""
    if os.environ.get("PYTHONHASHSEED") != "0":
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])


def pin_environment(run_dir: Path) -> int:
    """One core per local task slot, private scratch and temp dirs, and a
    fixed-size driver heap: with a growing heap, whole runs came out up to
    50% apart while the passes within each run agreed. The heap is touched
    at JVM start (inside set-up) and collected by the parallel collector:
    passes ran 3-22% faster than with G1 and lazily faulted pages."""
    cpus = len(os.sched_getaffinity(0))
    for sub in ("scratch", "local", "tmp"):
        (run_dir / sub).mkdir(parents=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_SCRATCH=str(run_dir / "scratch"),
        SPARK_LOCAL_DIRS=str(run_dir / "local"),
        SPARK_DRIVER_MEMORY="2g",
        TMPDIR=str(run_dir / "tmp"),
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={run_dir / 'tmp'} "
            "-Xms2g -XX:+AlwaysPreTouch -XX:+UseParallelGC -XX:-UsePerfData' pyspark-shell"
        ),
    )
    return cpus


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def environment(seed: int, cpus: int, spark) -> dict:
    src = hashlib.sha256()
    for p in sorted(PACKAGE.rglob("*.py")):
        src.update(p.read_bytes())
    commit = None
    if (ROOT / ".git").exists():
        commit = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, check=False,
        ).stdout.strip() or None
    return {
        "seed": seed,
        "nproc": cpus,
        "pyspark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "git_commit": commit,
        "package_sha256": src.hexdigest()[:16],
    }


class Runner:
    def __init__(self, args, sf_dir: Path, run_dir: Path, tracer):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.sf = str(sf_dir)
        self.run_dir = run_dir
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[str] = []
        self.verify_s = 0.0
        self.op_seq = 0
        self.op_pass: dict[int, int] = {}
        self.op_module: dict[int, str] = {}

    def start(self) -> None:
        from saas_analytics_pipeline_spark.session import get_spark

        with self.tracer.span("session.start", "session"):
            self.spark = get_spark("perfbench")
        self.sc = self.spark.sparkContext
        if self.args.trace:
            self.tracer.install_py4j(self.spark)
        import __spark_entry__ as ent
        from saas_analytics_pipeline_spark import ci, qcatalog

        qcatalog.load_all()
        self.qcatalog, self.ci = qcatalog, ci
        # the memoized view (analyst) or the raw constructors (refresh)
        self.plans = ent.queries() if self.wl.memoized else {
            k: e.fn for k, e in qcatalog.QUERIES.items()
        }
        oracle_cache = WORK / "oracle" / f"{inputs.fingerprint(Path(self.sf))}.json"
        self.verifier = Verifier(Path(self.sf), oracle_cache, TOOLS)

    def module_of(self, key: str) -> str:
        if key == GATE:
            return "ci"
        mod = self.qcatalog.QUERIES[key].fn.__module__
        return mod.removeprefix("saas_analytics_pipeline_spark.").removeprefix("operators.")

    def run_op(self, key: str, pass_no: int, verify: bool) -> float | None:
        """One op; returns its latency, or None when it failed."""
        tr = self.tracer
        self.op_seq += 1
        op_id = tr.op_id = self.op_seq
        self.op_pass[op_id] = pass_no
        self.op_module[op_id] = self.module_of(key)
        self.attempted += 1
        group = f"perfbench-op{op_id}"
        if tr.enabled:
            self.sc.setJobGroup(group, key)
        try:
            with tr.span("op", "op", key=key) as op_span:
                t0 = time.perf_counter()
                if key == GATE:
                    wh = self.run_dir / "warehouse" / f"op{op_id}"
                    with tr.span("exec.run", "exec"):
                        ok, lines = self.ci.run_gate(self.spark, self.sf, str(wh))
                    latency = time.perf_counter() - t0
                    problem = None if ok else "gate RED: " + "; ".join(
                        ln for ln in lines if not ln.startswith("pass")
                    )
                else:
                    with tr.span("qcatalog.construct", "qcatalog"):
                        df = self.plans[key](self.spark, self.sf)
                    if verify:
                        # the verify pass collects instead of the noop write: it
                        # warms the same plan and yields rows to verify
                        rows = df.collect()
                        latency = time.perf_counter() - t0
                        v0 = time.perf_counter()
                        problem = self.verifier.check(
                            key, self.qcatalog.QUERIES[key].oracle, df.columns, rows
                        )
                        self.verify_s += time.perf_counter() - v0
                    else:
                        if tr.enabled:
                            with tr.span("exec.plan", "exec"):
                                df.alias("perfbench")._jdf.queryExecution().executedPlan()
                        with tr.span("exec.run", "exec"):
                            df.write.format("noop").mode("overwrite").save()
                        latency = time.perf_counter() - t0
                        problem = None
                if op_span is not None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    op_span.update(job_stats(self.sc, group))
        except Exception:
            traceback.print_exc()
            problem = "raised"
        finally:
            tr.op_id = None
        if problem:
            self.failures.append(f"{key}: {problem}")
            print(f"# FAIL {key}: {problem}", file=sys.stderr)
            return None
        return latency

    def setup_passes(self) -> None:
        """Collect and verify every op (pass 0, traced in a traced run); this
        also builds the memoized plans, publishes the lake tables they read
        and compiles each query once. Then run each op once more the timed
        way, untraced: without that warm pass the first timed pass ran
        10-50% slower than the second."""
        for key in self.wl.ops:
            self.run_op(key, 0, verify=True)
        traced, self.tracer.enabled = self.tracer.enabled, False
        for key in self.wl.ops:
            self.run_op(key, -1, verify=False)
        self.tracer.enabled = traced

    def timed_passes(self) -> list[dict]:
        """At least two passes, then more while the next one is expected to
        end within --seconds. With --trace 1 at least four, traced in the
        pattern untraced, traced, traced, untraced: passes still speed up
        as the JIT warms, and the pattern keeps that out of the overhead."""
        rng = random.Random(self.args.seed)
        passes: list[dict] = []
        least = 4 if self.args.trace else 2
        t_start = time.perf_counter()
        while True:
            order = list(self.wl.ops)
            rng.shuffle(order)
            traced = bool(self.args.trace) and len(passes) % 4 in (1, 2)
            self.tracer.enabled = traced
            t0 = time.perf_counter()
            lat = [self.run_op(k, len(passes) + 1, verify=False) for k in order]
            passes.append({
                "traced": traced,
                "pass_s": time.perf_counter() - t0,
                "ops": dict(zip(order, lat)),
            })
            self.tracer.enabled = False
            elapsed = time.perf_counter() - t_start
            if len(passes) >= least and elapsed * (1 + 1 / len(passes)) > self.args.seconds:
                return passes

    def stop(self) -> None:
        gateway = self.sc._gateway
        proc = gateway.proc
        self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    pin_hash_seed()
    if not (PACKAGE / "__init__.py").is_file() or not (TOOLS / "gen_sf1.py").is_file():
        print(
            f"perfbench: package or tools missing under {ROOT}; run from a full checkout",
            file=sys.stderr,
        )
        return 2
    wl = WORKLOADS[args.workload]
    sf_dir = inputs.prepare(1 if args.tiny else wl.copies, WORK / "data", TOOLS)
    run_dir = WORK / "run" / f"{wl.name}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    cpus = pin_environment(run_dir)
    os.chdir(run_dir)
    sys.path.insert(0, str(ROOT))

    # ---- set-up: session, catalog import, verify pass, warm pass ----------
    t_setup = time.perf_counter()
    tracer = Tracer()
    if args.trace:
        tracer.install()  # before load_all binds operator imports
        tracer.enabled = True
    runner = Runner(args, sf_dir, run_dir, tracer)
    runner.start()
    t_start = time.perf_counter() - t_setup
    runner.setup_passes()
    print(f"# setup: start {t_start:.2f}s, passes {time.perf_counter() - t_setup - t_start:.2f}s,"
          f" verify {runner.verify_s:.2f}s", file=sys.stderr)
    tracer.enabled = False
    setup_s = time.perf_counter() - t_setup - runner.verify_s
    env = environment(args.seed, cpus, runner.spark)
    print(f"# env {json.dumps(env)}", file=sys.stderr)

    # ---- timed passes -----------------------------------------------------
    passes = runner.timed_passes()
    rss = {
        "mem.jvm_peak_rss_mb": vm_hwm_mb(runner.sc._gateway.proc.pid),
        "mem.python_peak_rss_mb": vm_hwm_mb("self"),
    }
    runner.stop()
    runner.verifier.close()

    untraced = [p for p in passes if not p["traced"]]
    lat = [x for p in untraced for x in p["ops"].values() if x is not None]
    if args.trace:
        def totals(pass_no: int) -> dict[str, float]:
            ops = {o for o, n in runner.op_pass.items() if n == pass_no}
            return layer_totals(tracer.spans, ops, runner.op_module)

        traced = [i for i, p in enumerate(passes, start=1) if p["traced"]]
        metrics = median_totals([totals(i) for i in traced], list(PER_LAYER))
        setup = totals(0)
        metrics.update(rss)
        metrics["session.start_s"] = next(
            s["end"] - s["start"] for s in tracer.spans if s["name"] == "session.start"
        )
        metrics["setup.construct_s"] = setup.get("qcatalog.construct_s", 0)
        metrics["setup.py4j_calls"] = setup.get("qcatalog.py4j_calls", 0)
        metrics["setup.publish.commits"] = setup.get("plans.publish.commits", 0)
        metrics["setup.publish.commit_s"] = setup.get("plans.publish.commit_s", 0)
        metrics["setup.publish.reads"] = setup.get("plans.publish.reads", 0)
        metrics["setup.publish.read_s"] = setup.get("plans.publish.read_s", 0)
        metrics["trace.pass_s"] = statistics.median(passes[i - 1]["pass_s"] for i in traced)
        metrics["trace.overhead_s"] = metrics["trace.pass_s"] - statistics.median(
            p["pass_s"] for p in untraced
        )
        units = PER_LAYER
        tracer.dump(WORK / "trace" / f"{wl.name}-seed{args.seed}.jsonl")
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(p["pass_s"] for p in untraced),
            "op_p50_s": statistics.median(lat) if lat else 0.0,
        }
        units = END_TO_END

    detail = {
        "workload": wl.name,
        "tiny": args.tiny,
        "trace": args.trace,
        "dataset": str(sf_dir.relative_to(ROOT)),
        "env": env,
        "setup_s": setup_s,
        "verify_s": runner.verify_s,
        "passes": passes,
        "op_samples": len(lat),
        "failures": runner.failures,
        "memory": rss,
        "metrics": metrics,
    }
    out = WORK / "results" / f"{wl.name}-seed{args.seed}-trace{args.trace}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(detail, indent=1))
    shutil.rmtree(run_dir, ignore_errors=True)

    result = {
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in units},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
