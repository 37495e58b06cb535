"""The two workloads. Each runs the program as shipped and returns its
operations, their checks and the layer measurements.

A run is: generate inputs (untimed) -> set up (timed: session start, then
three repetitions of the workload's ingest or store build) -> one warm-up
pass (checked, untimed) -> timed passes while the time budget allows. With
tracing on, timed passes alternate untraced and traced, so one run yields
both the per-layer spans and the tracing overhead.

Timings come from outside each layer: the benchmark calls the layers'
public functions and, on traced passes, wraps the names ``api.search`` and
``api.mcp`` look up (``build_search_plan``, ``LayerResult``,
``markdownify_all_strings``) and the ``Embedder`` seam.
"""

from __future__ import annotations

import shutil
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

import gen
from oracles import CatalogOracle, SearchOracle
from procs import tree_cpu_seconds
from tracing import NullTracer, Tracer, self_times

# Input sizes. They are small so that a run, JVM start and three set-ups
# included, stays near a minute on 4 cores; at these sizes Spark's per-job
# overhead, not data volume, dominates every operation. A request still
# decodes Parquet list<float>, runs the cosine kernel and the point UDF, and
# its plan building grows with SEARCH_DIM (one literal per query-vector
# component).
SEARCH_LAYERS = 2000
SEARCH_DIM = 256
SEARCH_PASS = 10  # requests per pass: one stratified block
BATCH_DOCS = 400
BATCH_VECTORS = 400
BATCH_DIM = 64
BATCH_CUSTOMERS = 1500
BATCH_SUPPLIERS = 100
BATCH_PARTS = 400
SETUP_REPS = 3

LLM_JOBS = ["embedding_near_dup", "similarity_join_topk", "ngram_containment_topk", "bm25_keyword_search"]
GEO_JOBS = ["spatial_point_filter"]

SEARCH_SPANS = {
    "api.models.validate": "api.models.validate_ms",
    "fixtures.embedder.embed_query": "fixtures.embedder.embed_query_ms",
    "plans.builder.build": "plans.builder.build_ms",
    "plans.collect": "plans.collect_ms",
    "api.search.hydrate": "api.search.hydrate_ms",
}


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric (name, unit), in BENCHMARK.json order."""
    names = [(m, "ms") for m in SEARCH_SPANS.values()]
    names += [
        ("api.mcp.markdownify_ms", "ms"),
        ("spark.jobs_per_request", "count"),
        ("spark.tasks_per_request", "count"),
        ("plans.rows_scanned_per_result", "ratio"),
        ("session.start_s", "s"),
        ("sources.ingest_s", "s"),
        ("sources.store_bytes_per_input_byte", "ratio"),
        ("catalog.spatial_mm.store_build_s", "s"),
    ]
    for job in LLM_JOBS + GEO_JOBS:
        names += [(f"catalog.{job}_s", "s"), (f"catalog.{job}.stages", "count"), (f"catalog.{job}.tasks", "count")]
    names += [
        ("trace.overhead_op_p50_ms", "ms"),
        ("trace.overhead_pass_s", "s"),
        ("pass_s", "s"),
        ("op_p50_ms", "ms"),
        ("peak_rss_mb", "MB"),
    ]
    return names


@dataclass
class Op:
    latency_s: float
    traced: bool
    error: str | None


@dataclass
class Pass:
    wall_s: float
    cpu_s: float  # CPU time of the whole process tree during the pass
    ops: int
    traced: bool


@dataclass
class Outcome:
    setup_s: float
    ops: list[Op] = field(default_factory=list)  # timed operations
    passes: list[Pass] = field(default_factory=list)  # timed passes
    checked: int = 0  # every checked operation, warm-up included
    failed: int = 0
    layers: dict[str, float] = field(default_factory=dict)


class Run:
    def __init__(self, root: Path, work: Path, seed: int, seconds: float, trace: bool) -> None:
        self.root, self.work, self.seed, self.seconds, self.trace = root, work, seed, seconds, trace
        self.tracer = Tracer()
        self.spark = None
        self._t0 = time.perf_counter()

    def log(self, phase: str) -> None:
        """Progress on stderr: where the run's wall time goes."""
        print(f"[{time.perf_counter() - self._t0:7.1f} s] {phase}", file=sys.stderr, flush=True)

    def start_session(self) -> float:
        from govgis_nov2023_slim_spatial_server_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark()
        elapsed = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return elapsed

    def passes(self, outcome: Outcome, one_pass) -> None:
        """A warm-up pass, then timed passes while ``seconds`` allows another
        (at least one; with tracing, at least one untraced and one traced)."""
        self.log("set up")
        one_pass(False, timed=False)
        self.log("warmed up")
        start = time.perf_counter()
        while True:
            traced = self.trace and len(outcome.passes) % 2 == 1
            n_ops, cpu0, t0 = len(outcome.ops), tree_cpu_seconds(), time.perf_counter()
            one_pass(traced, timed=True)
            wall, cpu = time.perf_counter() - t0, tree_cpu_seconds() - cpu0
            outcome.passes.append(Pass(wall, cpu, len(outcome.ops) - n_ops, traced))
            elapsed = time.perf_counter() - start
            typical = statistics.median(p.wall_s for p in outcome.passes)
            if elapsed + typical > self.seconds and len(outcome.passes) >= (2 if self.trace else 1):
                break
        self.log(f"{len(outcome.passes)} timed passes")

    def group_counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) Spark ran under job group ``group``."""
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else []:
                stage = tracker.getStageInfo(s)
                if stage is not None:
                    stages += 1
                    tasks += stage.numTasks
        return len(jobs), stages, tasks

    def set_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, "perfbench")


def scan_rows(jdf) -> int:
    """Rows output by the leaf scans of a Dataset's executed plan."""
    total, todo = 0, [jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if "Scan" in kind:
            metric = node.metrics().get("numOutputRows")
            if metric.isDefined():
                total += metric.get().value()
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return total


def _store_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*.parquet"))


class TimedEmbedder:
    """The ``Embedder`` seam with a span around each call."""

    def __init__(self, inner, tracer: Tracer) -> None:
        self.inner, self.tracer, self.dim = inner, tracer, inner.dim

    def embed_query(self, text: str) -> list[float]:
        with self.tracer.span("fixtures.embedder.embed_query"):
            return self.inner.embed_query(text)


@contextmanager
def traced_search(tracer: Tracer, collected: list):
    """Wrap the names api.search and api.mcp call, while one traced request
    runs."""
    from govgis_nov2023_slim_spatial_server_spark.api import mcp as mcp_mod
    from govgis_nov2023_slim_spatial_server_spark.api import search as search_mod
    from govgis_nov2023_slim_spatial_server_spark.api.models import LayerResult

    build_plan, markdownify = search_mod.build_search_plan, mcp_mod.markdownify_all_strings

    def timed_build(*args, **kwargs):
        with tracer.span("plans.builder.build"):
            df = build_plan(*args, **kwargs)
        collect = df.collect

        def timed_collect():
            with tracer.span("plans.collect"):
                rows = collect()
            collected.append((df, len(rows)))
            return rows

        df.collect = timed_collect
        return df

    class TimedLayerResult(LayerResult):
        @classmethod
        def model_validate(cls, obj, *args, **kwargs):
            with tracer.span("api.search.hydrate"):
                return LayerResult.model_validate(obj, *args, **kwargs)

    depth = [0]

    def timed_markdownify(obj):
        if depth[0]:  # the function recurses through this module name
            return markdownify(obj)
        depth[0] += 1
        try:
            with tracer.span("api.mcp.markdownify"):
                return markdownify(obj)
        finally:
            depth[0] -= 1

    search_mod.build_search_plan = timed_build
    search_mod.LayerResult = TimedLayerResult
    mcp_mod.markdownify_all_strings = timed_markdownify
    try:
        yield
    finally:
        search_mod.build_search_plan = build_plan
        search_mod.LayerResult = LayerResult
        mcp_mod.markdownify_all_strings = markdownify


def search_mix(run: Run) -> Outcome:
    """Closed loop, one client: the seeded /search stream, ~20% via MCP."""
    from govgis_nov2023_slim_spatial_server_spark.api.mcp import gis_layer_search
    from govgis_nov2023_slim_spatial_server_spark.api.models import SemanticSearchRequest
    from govgis_nov2023_slim_spatial_server_spark.api.search import SearchService
    from govgis_nov2023_slim_spatial_server_spark.fixtures.embedder import FakeEmbedder
    from govgis_nov2023_slim_spatial_server_spark.sources.ingest import (
        ingest_layers,
        load_layers,
        write_layers,
    )

    layers, order = gen.make_layers(run.seed, SEARCH_LAYERS, SEARCH_DIM)
    src = run.work / "layers.parquet"
    src_bytes = gen.write_layers_geoparquet(layers, order, src)
    stream = gen.make_requests(run.seed, layers, n_blocks=60)
    embedder = FakeEmbedder(dim=SEARCH_DIM, seed=run.seed)
    oracle = SearchOracle(layers, embedder)

    run.log("inputs generated")
    session_s = run.start_session()
    ingest_s = []
    for rep in range(SETUP_REPS):
        store = run.work / f"store{rep}"
        t0 = time.perf_counter()
        write_layers(ingest_layers(run.spark, str(src)), str(store))
        df = load_layers(run.spark, str(store))
        ingest_s.append(time.perf_counter() - t0)
    out = Outcome(setup_s=session_s + statistics.median(ingest_s))
    service = SearchService(df, embedder)
    out.layers.update(
        {
            "session.start_s": session_s,
            "sources.ingest_s": statistics.median(ingest_s),
            "sources.store_bytes_per_input_byte": _store_bytes(store) / src_bytes,
        }
    )

    tracer = run.tracer
    counts = {"requests": 0, "mcp": 0, "jobs": 0, "tasks": 0, "scanned": 0, "returned": 0}
    cursor = [0]

    def send(item: dict, traced: bool) -> tuple[float, str | None]:
        tr = tracer if traced else NullTracer()
        t0 = time.perf_counter()
        try:
            with tr.span("request"):
                with tr.span("api.models.validate"):
                    request = SemanticSearchRequest.model_validate(item["payload"])
                if item["via"] == "mcp":
                    with tr.span("api.mcp.gis_layer_search"):
                        response = gis_layer_search(service, request)
                else:
                    with tr.span("api.search.search"):
                        response = service.search(request)
        except Exception as e:  # a refused or crashed request is a failure
            return time.perf_counter() - t0, f"{type(e).__name__}: {e}"
        latency = time.perf_counter() - t0
        return latency, oracle.check(item["payload"], item["via"], response)

    def request(item: dict, traced: bool, timed: bool) -> None:
        collected: list = []
        if traced:
            rid = f"req{cursor[0]}"
            tracer.rid = rid
            run.set_group(rid)
            service.embedder = TimedEmbedder(embedder, tracer)
            with traced_search(tracer, collected):
                latency, error = send(item, True)
            service.embedder = embedder
            run.set_group(None)
            jobs, _, tasks = run.group_counts(rid)
            counts["requests"] += 1
            counts["mcp"] += item["via"] == "mcp"
            counts["jobs"] += jobs
            counts["tasks"] += tasks
            for df, n in collected:
                counts["scanned"] += scan_rows(df._jdf)
                counts["returned"] += n
        else:
            latency, error = send(item, False)
        out.checked += 1
        out.failed += error is not None
        if error is not None:
            print(f"search_mix: request {cursor[0]} failed: {error}", flush=True)
        if timed:
            out.ops.append(Op(latency, traced, error))

    def one_pass(traced: bool, timed: bool) -> None:
        # the warm-up pass is the stream's first block; the JIT-compiled
        # scan, cosine and top-k code settles only after a few requests
        for item in stream[cursor[0] : cursor[0] + SEARCH_PASS]:
            request(item, traced, timed)
            cursor[0] += 1

    run.passes(out, one_pass)

    n = max(counts["requests"], 1)
    spans = tracer.spans
    own = self_times(spans)
    for span_name, metric in SEARCH_SPANS.items():
        out.layers[metric] = 1e3 * sum(t for s, t in zip(spans, own) if s.name == span_name) / n
    out.layers["api.mcp.markdownify_ms"] = 1e3 * sum(
        t for s, t in zip(spans, own) if s.name == "api.mcp.markdownify"
    ) / max(counts["mcp"], 1)
    out.layers["spark.jobs_per_request"] = counts["jobs"] / n
    out.layers["spark.tasks_per_request"] = counts["tasks"] / n
    out.layers["plans.rows_scanned_per_result"] = counts["scanned"] / max(counts["returned"], 1)
    return out


def catalog_batch(run: Run) -> Outcome:
    """LLM data-prep and spatial catalog jobs, one after another, over
    generated documents, embeddings, customer, supplier, part and nation.
    A pass runs every job once; the spatial store is built in set-up."""
    from govgis_nov2023_slim_spatial_server_spark.catalog import ORACLES, QUERIES, spatial_mm

    tables = run.work / "tables"
    tables.mkdir()
    gen.write_documents(run.seed, BATCH_DOCS, tables / "documents.parquet")
    gen.write_embeddings(run.seed, BATCH_VECTORS, BATCH_DIM, tables / "embeddings.parquet")
    gen.write_tpch(run.seed, BATCH_CUSTOMERS, BATCH_SUPPLIERS, BATCH_PARTS, tables)
    jobs = LLM_JOBS + GEO_JOBS
    oracle = CatalogOracle(run.root, tables, jobs, ORACLES)
    run.log("inputs generated, oracle answers computed")

    session_s = run.start_session()
    builds = []
    for rep in range(SETUP_REPS):
        # a fresh directory per repetition: the catalog caches stores per
        # (session, directory), so each repetition builds from scratch
        sf_dir = run.work / f"tables{rep}"
        shutil.copytree(tables, sf_dir)
        t0 = time.perf_counter()
        spatial_mm._spatial_layers(run.spark, str(sf_dir))
        builds.append(time.perf_counter() - t0)
    out = Outcome(setup_s=session_s + statistics.median(builds))
    out.layers["session.start_s"] = session_s
    out.layers["catalog.spatial_mm.store_build_s"] = statistics.median(builds)

    tracer = run.tracer

    def one_pass(traced: bool, timed: bool) -> None:
        tr = tracer if traced else NullTracer()
        for job in jobs:
            group = f"{job}-{len(out.passes)}"
            if traced:
                tracer.rid = group
                run.set_group(group)
            t0 = time.perf_counter()
            try:
                with tr.span(f"catalog.{job}"):
                    df = QUERIES[job](run.spark, str(sf_dir))
                    rows = [tuple(r) for r in df.collect()]
                latency = time.perf_counter() - t0
                error = oracle.check(job, df.columns, rows)
            except Exception as e:  # a crashed job is a failure
                latency, error = time.perf_counter() - t0, f"{type(e).__name__}: {e}"
            if traced:
                run.set_group(None)
                _, stages, tasks = run.group_counts(group)
                out.layers[f"catalog.{job}_s"] = latency
                out.layers[f"catalog.{job}.stages"] = stages
                out.layers[f"catalog.{job}.tasks"] = tasks
            out.checked += 1
            out.failed += error is not None
            if error is not None:
                print(f"{job}: failed: {error}", flush=True)
            if timed:
                out.ops.append(Op(latency, traced, error))

    run.passes(out, one_pass)
    return out


WORKLOADS = {"search_mix": search_mix, "catalog_batch": catalog_batch}
