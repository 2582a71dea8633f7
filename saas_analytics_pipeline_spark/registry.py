"""dbt-style model registry: layered ELT with per-layer materialization.

The reference declares a raw -> staging -> intermediate -> marts DAG where
each model is one SELECT and each layer has a materialization (views for
raw/staging/intermediate, tables for marts — `/root/reference/
dbt_project.yml:26-43`). dbt builds this by Jinja-compiling `ref()` edges
into a manifest and topologically executing nodes
(`/root/reference/.github/workflows/dbt-ci.yml:42`).

Spark-first equivalent: a model is a named Python function
``fn(spark, ref) -> DataFrame`` where ``ref(name)`` resolves upstream models
(the explicit analogue of Jinja ``{{ ref(...) }}``). "Compilation" collapses
into Catalyst — a VIEW materialization is just the upstream *logical plan*
inlined (Catalyst prunes/pushes through it), a TABLE materialization persists
parquet via ``saveAsTable``-style writes. No scheduler is needed: building a
mart pulls its whole upstream plan into one Spark job and Catalyst plans the
DAG globally (often better than dbt's per-node serial execution,
`/root/reference/.github/profiles/profiles.yml:12` threads:1).
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field
from enum import Enum

from pyspark.sql import DataFrame, SparkSession


class Materialization(str, Enum):
    VIEW = "view"  # temp view: recomputed/inlined per consumer
    TABLE = "table"  # persisted parquet table
    EPHEMERAL = "ephemeral"  # never registered; inlined only


@dataclass
class Model:
    name: str
    fn: Callable[[SparkSession, Callable[[str], DataFrame]], DataFrame]
    layer: str = "staging"
    materialization: Materialization = Materialization.VIEW
    depends_on: tuple[str, ...] = ()
    description: str = ""


@dataclass
class ModelRegistry:
    models: dict[str, Model] = field(default_factory=dict)

    def model(
        self,
        name: str,
        layer: str = "staging",
        materialization: Materialization = Materialization.VIEW,
        depends_on: tuple[str, ...] = (),
        description: str = "",
    ):
        def deco(fn):
            if name in self.models:
                raise ValueError(f"duplicate model {name!r}")
            self.models[name] = Model(
                name, fn, layer, materialization, tuple(depends_on), description
            )
            return fn

        return deco

    def topo_order(self) -> list[str]:
        """Topological order over declared deps (cycle-safe)."""
        order: list[str] = []
        state: dict[str, int] = {}  # 0=unseen 1=visiting 2=done

        def visit(n: str) -> None:
            if state.get(n) == 2:
                return
            if state.get(n) == 1:
                raise ValueError(f"model cycle through {n!r}")
            state[n] = 1
            for d in self.models[n].depends_on:
                if d in self.models:
                    visit(d)
            state[n] = 2
            order.append(n)

        for n in self.models:
            visit(n)
        return order

    def build(
        self,
        spark: SparkSession,
        select: list[str] | None = None,
        warehouse_dir: str | None = None,
        crash_hook=None,
    ) -> dict[str, DataFrame]:
        """Build models in dependency order (dbt build, minus the tests —
        quality checks run via quality.checks on the built frames).

        VIEW models register temp views (pure logical plans); TABLE models
        publish parquet snapshots under ``warehouse_dir`` via the ATOMIC
        manifest/rename protocol (plans/publish.py, verdict r08 #1) and
        re-read the committed file list, so marts are scan-backed like
        dbt's table materialization AND torn-write-proof like BigQuery's
        atomic loads (`/root/reference/dbt_project.yml:26-43` rides on
        that atomicity): a build crashing mid-mart leaves readers on the
        previous committed snapshot, never a half-written directory.
        ``crash_hook`` is the test seam threaded into each publish
        (tests/test_registry.py kills the build at every barrier).
        """
        built: dict[str, DataFrame] = {}

        def ref(name: str) -> DataFrame:
            if name in built:
                return built[name]
            if name in self.models:
                raise ValueError(
                    f"model {name!r} referenced before build; declare it in depends_on"
                )
            return spark.table(name)  # fall through to a registered source view

        wanted = set(select or self.models)
        # expand upstream closure
        frontier = list(wanted)
        while frontier:
            n = frontier.pop()
            for d in self.models.get(n, Model(n, lambda *_: None)).depends_on:
                if d in self.models and d not in wanted:
                    wanted.add(d)
                    frontier.append(d)

        for name in self.topo_order():
            if name not in wanted:
                continue
            m = self.models[name]
            df = m.fn(spark, ref)
            if m.materialization is Materialization.VIEW:
                df.createOrReplaceTempView(name)
            elif m.materialization is Materialization.TABLE and warehouse_dir:
                from saas_analytics_pipeline_spark.plans import publish as P

                root = f"{warehouse_dir}/{m.layer}/{name}"
                P.publish_next(spark, df, root, crash_hook=crash_hook)
                df = P.read_current(spark, root)
                df.createOrReplaceTempView(name)
            built[name] = df
        return built


REGISTRY = ModelRegistry()


def build_parallel(
    registry: ModelRegistry,
    spark: SparkSession,
    warehouse_dir: str,
    max_workers: int = 4,
    crash_hook=None,
) -> dict[str, DataFrame]:
    """Level-parallel build: models whose dependencies are all built run
    CONCURRENTLY (thread pool submitting independent Spark jobs — the
    scheduler interleaves their stages across executors). The reference's
    CI builds serially (threads: 1, profiles.yml:12); on a busy cluster
    wave-parallelism is how a wide mart layer finishes in depth(DAG) waves
    instead of |models| serial jobs.

    Only TABLE materializations do real work in parallel (writes); VIEW
    models are pure plan registration and run inline. TABLE writes go
    through the same atomic manifest/rename publish as the serial build
    (each model root has its own writer fence, so wave members never
    contend). Each write is wrapped in ``inheritable_thread_target(spark)``
    on the calling thread, so it runs under the caller's job group, local
    properties and tags like the serial build's writes."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    order = registry.topo_order()
    built: dict[str, DataFrame] = {}

    def ref(name: str) -> DataFrame:
        if name in built:
            return built[name]
        return spark.table(name)

    def materialize(name: str) -> tuple[str, DataFrame]:
        m = registry.models[name]
        df = m.fn(spark, ref)
        if m.materialization is Materialization.TABLE:
            from saas_analytics_pipeline_spark.plans import publish as P

            # same atomic publish as the serial build; the fence is
            # per-model-root, so concurrent WAVE members never contend
            root = f"{warehouse_dir}/{m.layer}/{name}"
            P.publish_next(spark, df, root, crash_hook=crash_hook)
            df = P.read_current(spark, root)
        return name, df

    remaining = [n for n in order]
    while remaining:
        ready = [
            n
            for n in remaining
            if all(d in built or d not in registry.models
                   for d in registry.models[n].depends_on)
        ]
        if not ready:
            raise ValueError("dependency deadlock (should be cycle-checked)")
        views = [n for n in ready
                 if registry.models[n].materialization is not Materialization.TABLE]
        tables = [n for n in ready
                  if registry.models[n].materialization is Materialization.TABLE]
        for n in views:  # plan registration: inline, cheap
            name, df = materialize(n)
            df.createOrReplaceTempView(name)
            built[name] = df
        if tables:
            # one wrap per write: each clones the caller's properties for
            # its own thread
            writes = [
                inheritable_thread_target(spark)(functools.partial(materialize, n))
                for n in tables
            ]
            with ThreadPoolExecutor(max_workers=max_workers) as pool:
                for name, df in pool.map(lambda write: write(), writes):
                    df.createOrReplaceTempView(name)
                    built[name] = df
        remaining = [n for n in remaining if n not in built]
    return built
