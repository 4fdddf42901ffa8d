"""The benchmark's workloads: one closed-loop client driving the program's
public API, each on its own seeded input.

- build: the bulk write path. Each call extracts a seeded corpus into a
  fresh base and finalizes the graph (run_extraction + finalize_graph). The
  first call of a session is what a batch job pays; at --seconds 10 a run
  measures only that one.
- graph_query_large: the read path above the driver gate. A seeded Zipf
  triples table just over 500k distinct edges, so every operator takes its
  distributed tier from the size of its input alone.

Each workload returns its end-to-end figures; with tracing on it also
returns the per-layer figures, from spans around the same calls plus the
layer probes listed in `_build_layers`.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from checks import DEFAULT_SEED, F1_BAR, Checks, digest, span_f1, triple_f1
from inputs import write_corpus, write_zipf_triples

BUILD_DOCS = 2000
FOLD_DOCS = 200
CORE_PROBE_DOCS = 200
SETUP_REPEATS = 3
# just above the graph operators' 500k distinct-edge driver gate
LARGE_MIN_EDGES = 510_000

RPQ_EXPR = ("seq", ("plus", ("pred", "acquired")), ("pred", "based_in"))
BGP = [("?p", "works_at", "?o"), ("?o", "based_in", "?l"), ("?p", "visited", "?l")]


def _graph_ops():
    from gliner_spark.operators import graph_analytics as ga
    from gliner_spark.operators import kg_completion as kc
    from gliner_spark.operators.kg_query import conjunctive_match
    from gliner_spark.operators.rpq import rpq_match

    return {
        "entity_degrees": ga.entity_degrees,
        "two_hop_paths": ga.two_hop_paths,
        "triangle_counts": ga.triangle_counts,
        "pagerank": ga.pagerank,
        "entity_components": ga.entity_components,
        "node_similarity": ga.node_similarity,
        "kcore": ga.kcore,
        "lpa_communities": ga.lpa_communities,
        "conjunctive_match": lambda t: conjunctive_match(t, BGP),
        "rpq_match": lambda t: rpq_match(t, RPQ_EXPR, 5),
        "cooc_candidates": kc.cooc_candidates,
        "negative_samples": kc.negative_samples,
    }


# the operators graph_query_large runs, in this order, each round: the
# wedge family (two-hop paths, triangles). Above the gate a round takes
# ~23 s on 4 cores; adding entity_degrees (~5-8 s), pagerank (~11 s), kcore
# (~10 s) or components (~45 s) would not fit a run
LARGE_OPS = ["two_hop_paths", "triangle_counts"]

# per-layer figures only the build workload produces; they read 0 elsewhere
BUILD_ONLY = (
    "sinks.run_extraction_vs_build", "sinks.run_extraction_jobs",
    "sinks.run_extraction_stages", "sinks.finalize_graph_vs_build",
    "sinks.finalize_graph_jobs", "sinks.files_written", "sinks.bytes_written",
    "sinks.write_amp", "extraction.extract_graph_vs_build", "extraction.jobs",
    "linking.canonicalize_vs_build", "linking.canonicalize_jobs",
    "linking.entities", "linking.surfaces",
    "sinks.finalize_incremental_vs_build", "sinks.finalize_incremental_jobs",
    "sinks.finalize_incremental_stages",
)

# Digests for DEFAULT_SEED. Build: the finalized tables; graph ops: their
# result over the build's triples (driver tier) and over the Zipf table
# (distributed tier).
PINS = {
    "build": {
        "span_f1": "1.0",
        "triple_f1": "1.0",
        "entities": "161:-108724548540119277004",
        "triples": "6080:-346595299252683042265",
        "driver.entity_degrees": "2055:46504854070090442935",
        "driver.two_hop_paths": "22099:-177452896974182066628",
        "driver.triangle_counts": "153:10195963980565570212",
        "driver.pagerank": "2055:-113515845526017662971",
        "driver.entity_components": "2055:97922816451286525875",
        "driver.node_similarity": "3626:-344074056792690924408",
        "driver.kcore": "160:58108057375023060691",
        "driver.lpa_communities": "2055:484976336151515100972",
        "driver.conjunctive_match": "960:38074696760569756094",
        "driver.rpq_match": "2161:-22744694284055787530",
        "driver.cooc_candidates": "1204:-192505561591570107629",
        "driver.negative_samples": "3293:217411257181431350172",
    },
    "graph_query_large": {
        "two_hop_paths": "3501935:-6298264602406308310370",
        "triangle_counts": "38986:206035503721346838153",
    },
}


@dataclass
class Ctx:
    workload: str
    spark: object
    model: object
    tracer: object
    workdir: str
    seed: int
    seconds: float
    checks: Checks = field(default_factory=Checks)

    def pinned(self, key: str) -> str | None:
        """The pinned digest for `key`; pins exist for DEFAULT_SEED only."""
        return PINS[self.workload].get(key) if self.seed == DEFAULT_SEED else None


@dataclass
class Call:
    name: str
    wall_s: float
    ok: bool
    out: object = None


def call(ctx: Ctx, name: str, fn, iteration=None) -> Call:
    """Run one call of the closed loop. An exception is recorded as a failed
    call, with its traceback on stderr, and the run goes on."""
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span(name, iteration=iteration):
            out = fn()
        return Call(name, time.perf_counter() - t0, True, out)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return Call(name, time.perf_counter() - t0, False)


def closed_loop(ctx: Ctx, round_fns, check) -> list[Call]:
    """Run whole rounds of `round_fns` (name, fn) back to back until
    `ctx.seconds` have passed, at least one round. `check(call)` runs after
    each successful call, outside its timing."""
    calls: list[Call] = []
    deadline = time.perf_counter() + ctx.seconds
    it = 0
    while not calls or time.perf_counter() < deadline:
        for name, fn in round_fns:
            c = call(ctx, name, fn, iteration=it)
            calls.append(c)
            if c.ok:
                check(c)
        it += 1
    return calls


def _setup(fn) -> tuple[float, object]:
    """Run the set-up SETUP_REPEATS times; (median wall, last result)."""
    walls, out = [], None
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        out = fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls), out


def _summary(calls: list[Call], items_per_call: int) -> dict:
    ok = [c.wall_s for c in calls if c.ok] or [c.wall_s for c in calls]
    return {
        "call_p50_s": statistics.median(ok),
        "throughput_per_s": items_per_call * len(ok) / sum(ok),
        "attempted": len(calls),
        "failed": sum(not c.ok for c in calls),
    }


def _du(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def _p50(vals) -> float:
    return statistics.median(vals) if vals else 0.0


# ------------------------------------------------------------------ build --

def run_build(ctx: Ctx) -> dict:
    from gliner_spark.sinks.materialize import finalize_graph, run_extraction
    from gliner_spark.sources.readers import load_docs

    spark, model, tr = ctx.spark, ctx.model, ctx.tracer
    corpus = os.path.join(ctx.workdir, "corpus.parquet")
    setup_s, gold = _setup(lambda: write_corpus(corpus, ctx.seed, 0, BUILD_DOCS))
    n_builds = [0]

    def build():
        base = os.path.join(ctx.workdir, f"base{n_builds[0]}")
        n_builds[0] += 1
        docs = load_docs(spark, corpus)
        with tr.span("sinks.run_extraction"):
            run_extraction(spark, docs, model, base)
        with tr.span("sinks.finalize_graph"):
            finalize_graph(spark, base, model.config)
        return base

    f1s = {}

    def check(c: Call):
        base = c.out
        for key, fn in (("span_f1", span_f1), ("triple_f1", triple_f1)):
            f1s[key] = fn(base, gold)
            ctx.checks.expect(f1s[key] >= F1_BAR, f"{key} {f1s[key]:.4f} < {F1_BAR}")
            ctx.checks.same(key, repr(f1s[key]), ctx.pinned(key))
        for table in ("entities", "triples"):
            ctx.checks.same(table, digest(spark.read.parquet(f"{base}/{table}")), ctx.pinned(table))
        # keep only the newest base: the traced tail reads it
        for k in range(n_builds[0] - 1):
            shutil.rmtree(os.path.join(ctx.workdir, f"base{k}"), ignore_errors=True)

    loop = closed_loop(ctx, [("build", build)], check)
    out = {"setup_s": setup_s, **_summary(loop, BUILD_DOCS), **f1s}
    if tr.enabled:
        last = next((c.out for c in reversed(loop) if c.ok), None)
        out["layers"] = _build_layers(ctx, loop, last, corpus, os.path.getsize(corpus))
    return out


def _build_layers(ctx: Ctx, loop, base, corpus, corpus_bytes) -> dict:
    """Per-layer figures of the build workload: the loop's spans, then layer
    probes on the same inputs: the core model in-process, extract_graph to a
    no-op sink, canonicalize over the built mentions, the graph operators
    over the built triples (their driver tier), and one delta fold, checked
    against a full finalize over the same mentions."""
    from gliner_spark.cache import release_caches
    from gliner_spark.operators.extraction import (
        extract_graph, mentions_table, triples_raw_table,
    )
    from gliner_spark.operators.linking import canonicalize
    from gliner_spark.sinks.materialize import finalize_graph, finalize_graph_incremental, with_bucket
    from gliner_spark.sources.readers import load_docs

    spark, model, tr, cfg = ctx.spark, ctx.model, ctx.tracer, ctx.model.config
    build_p50 = _p50([c.wall_s for c in loop if c.ok]) or 1.0
    L = _engine_layers(ctx, _measured(ctx))
    L.update(_core_probe(ctx))
    ex = tr.named("sinks.run_extraction")
    fin = tr.named("sinks.finalize_graph")
    L["sinks.run_extraction_vs_build"] = _p50([s.wall_s for s in ex]) / build_p50
    L["sinks.run_extraction_jobs"] = _p50([s.jobs for s in ex])
    L["sinks.run_extraction_stages"] = _p50([s.stages for s in ex])
    L["sinks.finalize_graph_vs_build"] = _p50([s.wall_s for s in fin]) / build_p50
    L["sinks.finalize_graph_jobs"] = _p50([s.jobs for s in fin])
    files, nbytes = _du(base) if base else (0, 0)
    L["sinks.files_written"] = files
    L["sinks.bytes_written"] = nbytes
    L["sinks.write_amp"] = nbytes / corpus_bytes
    if base is None:  # every build raised: nothing to probe
        return {**dict.fromkeys(BUILD_ONLY, 0), **L}

    with tr.span("extraction.extract_graph") as sp:
        extract_graph(load_docs(spark, corpus), model).write.format("noop").mode("overwrite").save()
    L["extraction.extract_graph_vs_build"] = sp.wall_s / build_p50
    L["extraction.jobs"] = sp.jobs

    with tr.span("linking.canonicalize") as sp:
        entities, surface_map = canonicalize(spark.read.parquet(f"{base}/mentions"), cfg)
        n_ent, n_surf = entities.count(), surface_map.count()
        release_caches(entities)
    L["linking.canonicalize_vs_build"] = sp.wall_s / build_p50
    L["linking.canonicalize_jobs"] = sp.jobs
    L["linking.entities"] = n_ent
    L["linking.surfaces"] = n_surf

    L.update(_graph_layers(ctx, spark.read.parquet(f"{base}/triples"), _graph_ops()))

    # one delta fold into the newest base, then the same mentions through a
    # full finalize in a copy: the two graphs must be equal
    batch = os.path.join(ctx.workdir, "batch.parquet")
    write_corpus(batch, ctx.seed, BUILD_DOCS, FOLD_DOCS)
    graph = extract_graph(load_docs(spark, batch), model).persist()
    new_m = mentions_table(graph.select("doc_id", "mentions"))
    new_t = triples_raw_table(graph.select("doc_id", "triples"))
    with tr.span("sinks.finalize_incremental") as sp:
        finalize_graph_incremental(spark, base, cfg, new_m, new_t)
    L["sinks.finalize_incremental_vs_build"] = sp.wall_s / build_p50
    L["sinks.finalize_incremental_jobs"] = sp.jobs
    L["sinks.finalize_incremental_stages"] = sp.stages
    full = os.path.join(ctx.workdir, "full")
    for table, rows in (("mentions", new_m), ("triples_raw", new_t)):
        shutil.copytree(f"{base}/{table}", f"{full}/{table}")
        with_bucket(rows, cfg.lineage_buckets).write.mode("append").partitionBy(
            "bucket"
        ).parquet(f"{full}/{table}")
    finalize_graph(spark, full, cfg)
    graph.unpersist()
    for table in ("entities", "triples", "surface_map"):
        a = digest(spark.read.parquet(f"{base}/{table}"))
        b = digest(spark.read.parquet(f"{full}/{table}"))
        ctx.checks.expect(a == b, f"delta fold {table} {a} != full finalize {b}")
    return L


# ------------------------------------------------------ graph_query_large --

def run_graph_query_large(ctx: Ctx) -> dict:
    from gliner_spark.cache import release_caches

    spark = ctx.spark
    path = os.path.join(ctx.workdir, "zipf_triples.parquet")
    setup_s, _ = _setup(lambda: write_zipf_triples(path, ctx.seed, LARGE_MIN_EDGES))
    triples = spark.read.parquet(path)
    ops = _graph_ops()

    def query(op):
        def fn():
            out = ops[op](triples)
            d = digest(out)
            release_caches(out)
            return d
        return fn

    def check(c: Call):
        ctx.checks.same(c.name, c.out, ctx.pinned(c.name))

    loop = closed_loop(ctx, [(op, query(op)) for op in LARGE_OPS], check)
    out = {"setup_s": setup_s, **_summary(loop, 1)}
    if ctx.tracer.enabled:
        measured = _measured(ctx)
        L = _engine_layers(ctx, measured)
        L.update(_core_probe(ctx))
        L.update(_op_figures(measured))
        L.update(dict.fromkeys(BUILD_ONLY, 0))
        out["layers"] = L
    return out


# ----------------------------------------------------------------- layers --

def _measured(ctx: Ctx) -> list:
    """The spans of the closed loop's calls (the only ones with an
    iteration id)."""
    return [s for s in ctx.tracer.spans if s.iteration is not None]


def _engine_layers(ctx: Ctx, spans) -> dict:
    """Spark-engine and driver-process figures per measured call, plus the
    persisted RDDs still registered after the calls released their caches."""
    cpu = [s.driver_cpu_s + s.jvm_cpu_s + s.worker_cpu_s for s in spans]
    return {
        "engine.jobs_per_call": _p50([s.jobs for s in spans]),
        "engine.stages_per_call": _p50([s.stages for s in spans]),
        "engine.tasks_per_call": _p50([s.tasks for s in spans]),
        "engine.driver_cpu_s_per_call": _p50([s.driver_cpu_s for s in spans]),
        "engine.jvm_cpu_s_per_call": _p50([s.jvm_cpu_s for s in spans]),
        "engine.worker_cpu_share": sum(s.worker_cpu_s for s in spans) / (sum(cpu) or 1.0),
        "cache.persisted_after": ctx.spark.sparkContext._jsc.getPersistentRDDs().size(),
        "trace.overhead_s_per_call": ctx.tracer.overhead_s / max(len(ctx.tracer.spans), 1),
    }


def _core_probe(ctx: Ctx) -> dict:
    """The core model in-process (no Spark) on the first CORE_PROBE_DOCS docs
    of the workload's seeded corpus."""
    from gliner_spark.sources.synth import assembled_text, gen_doc

    texts = [assembled_text(gen_doc(i, ctx.seed)["spans"]) for i in range(CORE_PROBE_DOCS)]
    n_m = n_t = 0
    with ctx.tracer.span("core.predict") as sp:
        for text in texts:
            mentions, tokens, _, _ = ctx.model.predict_doc(text)
            n_m += len(mentions)
            n_t += len(ctx.model.predict_relations_doc(tokens, mentions))
    return {
        "core.doc_us": sp.wall_s / len(texts) * 1e6,
        "core.mentions_per_doc": n_m / len(texts),
        "core.triples_per_doc": n_t / len(texts),
    }


def _op_figures(spans) -> dict:
    """graph.<op>.{s,jobs,driver_cpu_s} (medians) for the LARGE_OPS, and the
    driver's share of the wall over their calls."""
    spans = [s for s in spans if s.name in LARGE_OPS]
    L = {}
    for op in LARGE_OPS:
        mine = [s for s in spans if s.name == op]
        L[f"graph.{op}.s"] = _p50([s.wall_s for s in mine])
        L[f"graph.{op}.jobs"] = _p50([s.jobs for s in mine])
        L[f"graph.{op}.driver_cpu_s"] = _p50([s.driver_cpu_s for s in mine])
    L["graph.driver_cpu_share"] = sum(s.driver_cpu_s for s in spans) / (
        sum(s.wall_s for s in spans) or 1.0
    )
    return L


def _graph_layers(ctx: Ctx, triples, ops) -> dict:
    """Every operator of the mix once over `triples`, each result digested
    and checked against its pin."""
    from gliner_spark.cache import release_caches

    spans = []
    for name, op in ops.items():
        with ctx.tracer.span(name) as sp:
            out = op(triples)
            d = digest(out)
            release_caches(out)
        sp.attrs["digest"] = d
        spans.append(sp)
        ctx.checks.same(f"driver.{name}", d, ctx.pinned(f"driver.{name}"))
    return _op_figures(spans)


WORKLOADS = {
    "build": run_build,
    "graph_query_large": run_graph_query_large,
}
