"""The traced run: per-layer metrics for one workload.

Separate from the run that measures the end-to-end metrics. Sequence:
one untraced warm-up operation, one traced operation (spans around each
layer call, each layer's output forced under its own Spark job group),
one untraced operation (engine metrics and the tracing overhead, both
operations warm), the traced SPARQL sweep over every registered read
shape (kg_delta), and one operation on local[1] for the scaling figure.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import duckdb

from perfbench.inputs import testdata_root
from perfbench.tracing import (
    Tracer,
    engine_metrics,
    group_stages,
    in_window,
    spark_jobs,
    task_skew,
)
from perfbench.workloads import (
    SPARQL_SHAPES,
    Forcer,
    NullTracer,
    check_shape,
    run_shape,
)

# Layers whose self time is reported as a share of the traced operation;
# span names map to the layer that is their prefix.
LAYERS = (
    "sources.ntriples", "extract", "triplify", "plans.lineage",
    "operators.convert", "operators.render", "operators.incremental_kg",
    "sparql",
)

# (name, unit, better)
PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("sources.ntriples.busy_s", "s", "lower"),
    ("sources.ntriples.rows", "count", "higher"),
    ("sources.ntriples.bad_rows", "count", "lower"),
    ("extract.busy_s", "s", "lower"),
    ("extract.docs_in", "count", "higher"),
    ("extract.docs_out", "count", "higher"),
    ("triplify.busy_s", "s", "lower"),
    ("triplify.triples_out", "count", "higher"),
    ("plans.lineage.materialize_s", "s", "lower"),
    ("plans.lineage.bytes_written", "bytes", "lower"),
    ("plans.lineage.files_written", "count", "lower"),
    ("plans.lineage.stages", "count", "lower"),
    ("operators.convert.dims_s", "s", "lower"),
    ("operators.convert.busy_s", "s", "lower"),
    ("operators.convert.shuffle_bytes", "bytes", "lower"),
    ("operators.convert.spill_bytes", "bytes", "lower"),
    ("operators.convert.task_skew", "ratio", "lower"),
    ("operators.convert.pages_out", "count", "higher"),
    ("operators.render.busy_s", "s", "lower"),
    ("operators.render.collect_s", "s", "lower"),
    ("operators.render.xml_bytes", "bytes", "lower"),
    ("operators.incremental_kg.probe_s", "s", "lower"),
    ("operators.incremental_kg.affected_subjects", "count", "lower"),
    ("operators.incremental_kg.rerender_frac", "fraction", "lower"),
    ("operators.incremental_kg.rebuilds", "count", "lower"),
    ("sparql.compile_ms", "ms", "lower"),
    ("sparql.exec_ms", "ms", "lower"),
    ("sparql.jobs_per_query", "count", "lower"),
    ("sparql.rows_out", "count", "higher"),
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.busy_frac", "fraction", "higher"),
    ("spark.driver_gap_s", "s", "lower"),
    ("spark.scaling_eff_1to4", "ratio", "higher"),
    ("trace.overhead_frac", "fraction", "lower"),
    ("quality.fact_precision", "fraction", "higher"),
    ("quality.fact_recall", "fraction", "higher"),
    ("quality.category_precision", "fraction", "higher"),
    ("quality.category_recall", "fraction", "higher"),
] + [(f"{layer}.wall_share", "fraction", "lower") for layer in LAYERS] + [
    ("driver.wall_share", "fraction", "lower"),
]


def layer_of(span_name: str) -> str:
    for layer in LAYERS:
        if span_name == layer or span_name.startswith(layer + "."):
            return layer
    return "driver"


def _spans(tracer, names) -> list:
    return [sp for sp in tracer.spans if sp.name in names]


def _busy(tracer, jobs, names) -> list:
    groups = {tracer.group(i) for i, sp in enumerate(tracer.spans) if sp.name in names}
    return group_stages(jobs, groups)


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(wl, tracer, jobs, root: int, op_wall: float, out: dict, st: dict) -> dict:
    m = {}
    # self time share of the traced operation, per layer
    self_t = tracer.self_times(root)
    shares = dict.fromkeys(LAYERS + ("driver",), 0.0)
    for name, self_s in self_t.items():
        shares[layer_of(name)] += self_s
    for layer, s in shares.items():
        m[f"{layer}.wall_share"] = s / op_wall

    def busy(*names):
        return sum(stg.run_s for stg in _busy(tracer, jobs, names))

    nt = _spans(tracer, {"sources.ntriples"})
    each = [sp.counts.get("each") for sp in nt if "each" in sp.counts]
    m["sources.ntriples.busy_s"] = busy("sources.ntriples")
    m["sources.ntriples.rows"] = sum(e[0] for e in each)
    m["sources.ntriples.bad_rows"] = sum(e[1] for e in each)

    res = out.get("res", {})
    m["extract.busy_s"] = busy("extract")
    m["extract.docs_in"] = res.get("pages_in", 0)
    m["extract.docs_out"] = res.get("extracted", 0)
    m["triplify.busy_s"] = busy("triplify")
    m["triplify.triples_out"] = sum(
        sp.counts.get("triples_out", 0) for sp in _spans(tracer, {"triplify"})
    )

    lin = _spans(tracer, {"plans.lineage"})
    m["plans.lineage.materialize_s"] = self_t.get("plans.lineage", 0.0)
    files, size = wl.lineage_files(out) if lin else (0, 0)
    m["plans.lineage.bytes_written"] = size
    m["plans.lineage.files_written"] = files
    m["plans.lineage.stages"] = len(lin)

    conv = _busy(tracer, jobs, {"operators.convert", "operators.convert.dims"})
    m["operators.convert.dims_s"] = sum(
        sp.duration for sp in _spans(tracer, {"operators.convert.dims"})
    )
    m["operators.convert.busy_s"] = sum(s.run_s for s in conv)
    m["operators.convert.shuffle_bytes"] = sum(s.shuffle_write for s in conv)
    m["operators.convert.spill_bytes"] = sum(s.spill for s in conv)
    m["operators.convert.task_skew"] = task_skew(conv)
    m["operators.convert.pages_out"] = sum(
        sp.counts.get("pages_out", 0) for sp in _spans(tracer, {"operators.convert"})
    )

    m["operators.render.busy_s"] = busy("operators.render", "operators.render.collect")
    m["operators.render.collect_s"] = sum(
        sp.duration for sp in _spans(tracer, {"operators.render.collect"})
    )
    m["operators.render.xml_bytes"] = wl_xml_bytes(out)

    probes = _spans(tracer, {"operators.incremental_kg.probe"})
    affected = sum(
        sp.counts.get("affected_subjects", 0)
        for sp in _spans(tracer, {"operators.incremental_kg.affected"})
    )
    n_subj = st["meta"].get("n_subjects", 0)
    m["operators.incremental_kg.probe_s"] = sum(sp.duration for sp in probes)
    m["operators.incremental_kg.affected_subjects"] = affected
    m["operators.incremental_kg.rerender_frac"] = affected / n_subj if n_subj else 0.0
    m["operators.incremental_kg.rebuilds"] = sum(1 for sp in probes if sp.counts.get("result"))
    return m


def wl_xml_bytes(out: dict) -> int:
    if "rows" in out:
        return sum(len(x.encode()) for _t, _p, x in out["rows"])
    con = duckdb.connect()
    total = 0
    for stage in ("pages_xml", "properties_xml", "templates_xml"):
        path = f"{out['dir']}/{stage}/*.parquet"
        try:
            total += con.sql(
                f"SELECT coalesce(sum(octet_length(encode(xml))), 0) FROM read_parquet('{path}')"
            ).fetchone()[0]
        except duckdb.IOException:
            pass  # an empty stage writes no part file
    return total


def sparql_metrics(tracer, jobs) -> dict:
    """Per query: compile = the sparql_query call, exec = the collect."""
    comp = _spans(tracer, {"sparql"})
    execs = _spans(tracer, {"sparql.exec"})
    njobs = []
    for i, sp in enumerate(tracer.spans):
        if sp.name == "sparql.exec":
            group = tracer.group(i)
            njobs.append(sum(1 for j in jobs if j.group == group))
    return {
        "sparql.compile_ms": _median([sp.duration * 1000 for sp in comp]),
        "sparql.exec_ms": _median([sp.duration * 1000 for sp in execs]),
        "sparql.jobs_per_query": _median(njobs),
        "sparql.rows_out": _median([sp.counts.get("rows_out", 0) for sp in execs]),
    }


def sparql_sweep(spark, st: dict, meta: dict, tracer):
    """Every registered read shape once over base ∪ delta held in
    memory; yields each shape's mismatching-row count."""
    from rdf2smw_spark.operators import sameas
    from rdf2smw_spark.sources import ntriples

    delta, _bad = ntriples.read_ntriples(spark, meta["delta"])
    kg = st["base"].unionByName(delta).persist()
    kg.count()
    chain = sameas.synth_class_chain(spark, os.path.join(testdata_root(), meta["sf"]))
    try:
        for name in SPARQL_SHAPES:
            shape = st["shapes"][name]
            graph = kg.unionByName(chain) if shape["extra_chain"] else kg
            yield check_shape(st, name, run_shape(shape, graph, tracer)["rows"])
    finally:
        kg.unpersist()


def traced_run(wl, spark, st, meta, work, cores, starts) -> dict:
    from perfbench.run import start_sessions, timed_op

    attempted = failed = 0
    t_run = time.monotonic()

    def log(phase):
        print(f"[traced] {phase} at {time.monotonic() - t_run:.1f}s", file=sys.stderr, flush=True)

    def checked(out):
        nonlocal attempted, failed
        chk = wl.check(st, out)
        attempted += 1
        failed += chk["mismatched_rows"] > 0
        return chk

    checked(timed_op(wl, spark, st, NullTracer())[0])
    log("warm-up op")
    metrics = {"session.start_s": statistics.median(starts)}

    tracer, forcer = Tracer(spark), Forcer()
    with wl.instrument(tracer, forcer):
        t0 = time.monotonic()
        with tracer.span("op"):
            out = wl.op(spark, st, tracer)
        traced_wall = time.monotonic() - t0
    conv = {"operators.convert", "operators.convert.dims"}
    groups = {tracer.group(i) for i in range(len(tracer.spans))}
    jobs = spark_jobs(
        spark,
        lambda group, _s, _e: group in groups,
        {tracer.group(i) for i, sp in enumerate(tracer.spans) if sp.name in conv},
    )
    chk = checked(out)
    metrics.update(layer_metrics(wl, tracer, jobs, 0, traced_wall, out, st))
    titles = set(chk["affected_titles"]) if "affected_titles" in chk else None
    metrics.update(wl.quality(st, out, titles))
    forcer.release()
    trace_dir = os.path.join(work, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    tracer.dump(os.path.join(trace_dir, f"{wl.name}-seed{meta['seed']}-op.jsonl"))
    log("traced op")

    w0 = time.time()
    out, warm = timed_op(wl, spark, st, NullTracer())
    w1 = time.time()
    checked(out)
    jobs = spark_jobs(spark, lambda _g, start, end: in_window(start, end, w0, w1))
    metrics.update(engine_metrics(jobs, w0, w1, cores))
    metrics["trace.overhead_frac"] = traced_wall / warm - 1
    log("untraced op")

    sweep = Tracer(spark)
    if wl.name == "kg_delta":
        for bad in sparql_sweep(spark, st, meta, sweep):
            attempted += 1
            failed += bad > 0
        sweep.dump(os.path.join(trace_dir, f"{wl.name}-seed{meta['seed']}-sparql.jsonl"))
        log("sparql sweep")
    groups = {sweep.group(i) for i in range(len(sweep.spans))}
    jobs = spark_jobs(spark, lambda group, _s, _e: group in groups) if groups else []
    metrics.update(sparql_metrics(sweep, jobs))

    spark, st1, _setups, _starts = start_sessions(wl, meta, work, cores=1, n=1, spark=spark)
    out, one = timed_op(wl, spark, st1, NullTracer())
    st.update(st1)
    checked(out)
    metrics["spark.scaling_eff_1to4"] = one / (cores * warm)
    log("local[1] op")

    return {
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: float(metrics[name]) for name, _u, _b in PER_LAYER},
        "spark": spark,
    }

