"""Run one workload (timed or traced) and turn it into the result line.

The per-layer metric names come from ``per_layer_names()``; BENCHMARK.json
lists the same names. Every traced run exercises every layer; a metric the
run could not measure fails the run.
"""

from __future__ import annotations

import os
import statistics

from checks import pinned
from tracing import LayerTasks, Span, Tracer, attribute_event_log, event_log_file, wrapped_methods

COMPUTE_LAYERS = (
    "conversations",
    "mentions.extract",
    "mentions.vertices",
    "blocking",
    "scoring",
    "clustering",
    "canonicalize.entities",
    "canonicalize.mention_edges",
    "incremental_er",
)
TASK_METRICS = (
    ("wall_s", "s", "lower"),
    ("task_cpu_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("slot_util", "frac", "higher"),
    ("shuffle_read_mb", "MB", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("spark_jobs", "count", "lower"),
    ("rows_out", "count", "higher"),
)
PYTHON_METRICS = (("python_s", "s", "lower"), ("python_sent_mb", "MB", "lower"))
EXTRA = {
    "mentions.extract": PYTHON_METRICS,
    "blocking": (
        ("candidate_pairs", "count", "lower"),
        ("capped_blocks", "count", "lower"),
        ("pair_yield", "frac", "higher"),
    ),
    "scoring": PYTHON_METRICS,
}
IO_LAYERS = {
    "lineage": (("wall_s", "s", "lower"), ("calls", "count", "lower"), ("bytes_written", "bytes", "lower")),
    "checkpoint": (("wall_s", "s", "lower"), ("calls", "count", "lower"), ("bytes_written", "bytes", "lower")),
    "tables.merge": (("wall_s", "s", "lower"), ("calls", "count", "lower")),
    "streaming": (
        ("wall_s", "s", "lower"),
        ("increment_p50_s", "s", "lower"),
        ("mentions_per_s", "1/s", "higher"),
    ),
    "session": (("wall_s", "s", "lower"), ("peak_rss_mb", "MB", "lower")),
    "durable": (("fresh_s", "s", "lower"), ("resume_s", "s", "lower")),
    "trace": (("overhead_frac", "frac", "lower"),),
}
MENTION_LAYERS = ("conversations", "mentions.extract", "mentions.vertices", "canonicalize.mention_edges")
PAIR_LAYERS = ("blocking", "scoring")


def per_layer_names() -> list[tuple[str, str, str]]:
    out = []
    for layer in COMPUTE_LAYERS:
        for m, unit, better in TASK_METRICS + EXTRA.get(layer, ()):
            out.append((f"{layer}.{m}", unit, better))
    for layer, ms in IO_LAYERS.items():
        for m, unit, better in ms:
            out.append((f"{layer}.{m}", unit, better))
    return out


# ---------------------------------------------------------------------------
# Running
# ---------------------------------------------------------------------------


def run_workload(W, spark, wl, args, tmp: str, setup: list[float]) -> dict:
    """Generate the input and resolve it. Timed: resolve for ``--seconds``,
    starting with the session's first resolution. Traced: one untimed
    resolution (the first in a session runs about twice as long), one
    through the pipeline, then the staged layer-by-layer resolution, the
    durable fresh and resumed resolutions, and the day-2 attach stream."""
    pin = pinned(args.workload, args.seed)
    transcripts = W.write_transcripts(spark, wl, args.seed, os.path.join(tmp, "transcripts"))
    W.log("input written")
    run = {"setup": setup, "shape": None, "outputs": None, "trace_failures": []}
    if not args.trace:
        er = run["er"] = W.run_er(spark, transcripts, args.seconds, pin)
        if er["last"] is not None:
            r, out = er["last"]
            run["outputs"] = out
            run["shape"] = W.shape_of(wl, r.conversations.count(), *W.count_blocking(r.vertices), out)
            W.log("input shape counted")
        return run

    first = W.run_er(spark, transcripts, 0, pin)
    er = run["er"] = W.run_er(spark, transcripts, 0, pin)
    er["attempted"] += first["attempted"]
    er["failures"] += first["failures"]
    run["first_s"] = first["op_s"][0]
    if er["last"] is not None:
        run["outputs"] = er["last"][1]

    from neuronews_spark.pipeline import PipelineConfig
    from neuronews_spark.sources.tables import ParquetCatalog

    tracer = Tracer(spark.sparkContext)
    failures = run["trace_failures"]
    staged = W.resolve_staged(spark, tracer, transcripts, PipelineConfig())
    W.log("staged: " + ", ".join(f"{l} {tracer.wall(l):.2f}s" for l in W.ER_LAYERS))
    failures += W.er_failures(staged["out"], staged["shape"], pin)
    if run["outputs"] and _digests(staged["out"]) != _digests(run["outputs"]):
        failures.append("staged resolution differs from the pipeline's")
    run.update(tracer=tracer, staged=staged, trace_attempted=1)
    rows = staged["rows"]
    run["shape"] = W.shape_of(
        wl, rows["conversations"], rows["blocking"], staged["extra"]["capped_blocks"], staged["out"]
    )

    durable = W.resolve_durable(spark, tracer, transcripts, os.path.join(tmp, "workdir"))
    for leg, res in durable.items():
        run["trace_attempted"] += 1
        if _digests(res["out"]) != _digests(staged["out"]):
            failures.append(f"durable {leg} resolution differs from the pipeline's")
    run["durable"] = {leg: res["wall"] for leg, res in durable.items()}
    W.log(f"durable: {run['durable']}, lineage {tracer.wall('lineage'):.2f}s, "
          f"checkpoint {tracer.wall('checkpoint'):.2f}s")

    prep = W.prepare_attach(spark, staged["mentions"], args.seed, tmp)
    with wrapped_methods(tracer, ParquetCatalog, ("merge_upsert",), "tables.merge", tag_jobs=False):
        att = W.run_attach(spark, prep, tmp, pin)
    # A micro-batch runs on the stream's own thread: its interval is the
    # incremental_er span, and the jobs inside a merge go to tables.merge.
    for start, end in att["batch_spans"]:
        tracer.spans.append(Span("incremental_er", None, start, end, end - start))
    run["trace_attempted"] += att["attempted"]
    failures += att["batch_failures"] + att["run_failures"]
    run["attach"] = att
    run["attach_shape"] = prep["shape"]
    W.log(f"attach: increments {[round(x, 3) for x in att['lat']]}")
    return run


def _digests(out: dict) -> tuple:
    return out["entities"], out["entities_hash"], out["id_map_hash"]


# ---------------------------------------------------------------------------
# Result
# ---------------------------------------------------------------------------


def tail(xs: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it; a run
    with fewer than eleven samples has none."""
    xs = sorted(xs)
    n = len(xs)
    if n < 11:
        return {"n": n, "percentile": None, "value": None}
    return {"n": n, "percentile": round(100.0 * (n - 10) / n, 1), "value": xs[n - 11]}


def finish(W, wl, args, run: dict, nproc: int, tmp: str) -> tuple[dict, dict]:
    setup_s = statistics.median(run["setup"])
    er = run["er"]
    walls = er["walls"]
    failures = er["failures"] + run["trace_failures"]
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "shape": run["shape"], "outputs": run["outputs"],
        "setup_s": run["setup"], "first_resolution_s": run.get("first_s"),
        "resolution_s": walls, "resolution_cpu_s": er["cpus"], "resolution_tail": tail(walls),
    }
    if args.trace:
        metrics, extra, unmeasured = traced_metrics(W, run, setup_s, nproc, tmp)
        failures += unmeasured
        record.update(extra)
    else:
        metrics = {
            "turns_per_s": {"value": wl.n_turns / statistics.median(walls) if walls else 0.0, "unit": "turns/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
        record["peak_rss_mb"] = run["rss"]
    attempted = er["attempted"] + run.get("trace_attempted", 0)
    failed = len(failures)
    record["failures"] = failures
    record["error_rate"] = failed / attempted
    result = {"correct": failed == 0, "attempted": int(attempted), "failed": int(failed), "metrics": metrics}
    return result, record


def traced_metrics(W, run: dict, setup_s: float, nproc: int, tmp: str) -> tuple[dict, dict, list[str]]:
    """The per-layer metrics of a traced run, the record's extra fields,
    and one message per metric that could not be measured."""
    tracer: Tracer = run["tracer"]
    tasks = attribute_event_log(
        event_log_file(os.path.join(tmp, "eventlog")),
        tracer.spans,
        set(COMPUTE_LAYERS) | set(IO_LAYERS) | {"durable.fresh", "durable.resume"},
    )
    walls = {layer: tracer.wall(layer) for layer in W.ER_LAYERS}
    staged = run["staged"]
    rows = dict(staged["rows"])
    staged_total = sum(walls.values())
    att = run["attach"]
    merge_s = tracer.wall("tables.merge")
    add_batch = sum(p["durationMs"].get("addBatch", 0) for p in att["progress"]) / 1e3
    trigger = sum(p["durationMs"].get("triggerExecution", 0) for p in att["progress"]) / 1e3
    walls["incremental_er"] = max(0.0, add_batch - merge_s)
    rows["incremental_er"] = sum(att["sizes"])
    values = {
        "blocking.candidate_pairs": rows["blocking"],
        "blocking.capped_blocks": staged["extra"]["capped_blocks"],
        "blocking.pair_yield": rows["scoring"] / rows["blocking"] if rows["blocking"] else 0.0,
        "session.wall_s": setup_s,
        "session.peak_rss_mb": run["rss"],
        "durable.fresh_s": run["durable"]["fresh"],
        "durable.resume_s": run["durable"]["resume"],
        "tables.merge.wall_s": merge_s,
        "tables.merge.calls": tracer.calls("tables.merge"),
        "streaming.wall_s": max(0.0, trigger - add_batch),
        "streaming.increment_p50_s": statistics.median(att["lat"]),
        "streaming.mentions_per_s": sum(att["sizes"]) / att["loop_wall"],
    }
    for layer in ("lineage", "checkpoint"):
        values[f"{layer}.wall_s"] = tracer.wall(layer)
        values[f"{layer}.calls"] = tracer.calls(layer)
        values[f"{layer}.bytes_written"] = tracer.counters[f"{layer}.bytes_written"]
    unmeasured = []
    plain = run["er"]["walls"]
    if not plain:  # reported as 0, and the run fails
        unmeasured.append("no pipeline resolution passed its checks: trace.overhead_frac")
    values["trace.overhead_frac"] = staged_total / plain[0] - 1.0 if plain else 0.0
    for layer in COMPUTE_LAYERS:
        wall = walls[layer]
        values[f"{layer}.wall_s"] = wall
        values[f"{layer}.rows_out"] = rows[layer]
        t = tasks.get(layer)
        if t is None:  # reported as 0, and the run fails
            unmeasured.append(f"no Spark tasks attributed to {layer}")
            t = LayerTasks()
        values[f"{layer}.task_cpu_s"] = t.cpu_s
        values[f"{layer}.gc_s"] = t.gc_s
        values[f"{layer}.slot_util"] = t.run_s / (wall * nproc) if wall else 0.0
        values[f"{layer}.shuffle_read_mb"] = t.shuffle_read_mb
        values[f"{layer}.shuffle_write_mb"] = t.shuffle_write_mb
        values[f"{layer}.spill_mb"] = t.spill_mb
        values[f"{layer}.spark_jobs"] = t.jobs
        if EXTRA.get(layer) == PYTHON_METRICS:
            values[f"{layer}.python_s"] = t.python_s
            values[f"{layer}.python_sent_mb"] = t.python_sent_mb
    compute = sum(walls[l] for l in W.ER_LAYERS)
    extra = {
        "staged_total_s": staged_total,
        "span_share": {
            "mention_layers": sum(walls[l] for l in MENTION_LAYERS) / compute,
            "pair_layers": sum(walls[l] for l in PAIR_LAYERS) / compute,
        },
        "lineage_plus_checkpoint_s": values["lineage.wall_s"] + values["checkpoint.wall_s"],
        "largest_compute_layer_s": max(walls[l] for l in W.ER_LAYERS),
        "attach_shape": run["attach_shape"], "match_kinds": att["kinds"],
        "batch_hashes": att["batch_hashes"], "increment_tail": tail(att["lat"]),
        "spans": [
            {"layer": sp.layer, "parent": sp.parent, "start": sp.start, "wall_s": sp.wall}
            for sp in sorted(tracer.spans, key=lambda sp: sp.start)
        ],
    }
    metrics = {name: {"value": float(values[name]), "unit": unit} for name, unit, _ in per_layer_names()}
    return metrics, extra, unmeasured
