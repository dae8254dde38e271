"""Workload inputs and the operations the benchmark times.

Inputs are made from ``--seed`` with the program's own synthetic
generator and written to parquet; the program then receives only those
tables. An operation is one full resolution (``er_*``) or one streamed
increment (``attach_stream``).
"""

from __future__ import annotations

import hashlib
import os
import random
import statistics
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neuronews_spark.checkpoint import StageCheckpoint
from neuronews_spark.lineage import LineageWriter
from neuronews_spark.operators.blocking import build_blocks, candidate_pairs
from neuronews_spark.operators.canonicalize import (
    build_entities,
    build_id_map,
    build_mention_edges,
)
from neuronews_spark.operators.clustering import components_for_vertices
from neuronews_spark.operators.conversations import assemble_conversations
from neuronews_spark.operators.mentions import distinct_vertices, extract_mentions
from neuronews_spark.operators.scoring import matched_edges, score_pairs
from neuronews_spark.pipeline import EntityResolutionPipeline, PipelineConfig
from neuronews_spark.sources.synthetic import synthetic_transcripts
from neuronews_spark.sources.tables import ParquetCatalog
from neuronews_spark.streaming.ingest import start_incremental_er

from checks import attach_failures, er_failures, er_outputs, er_shape
from tracing import Tracer, wrapped_methods


@dataclass(frozen=True)
class Workload:
    n_turns: int
    family_scale: int | None = None  # None: the generator's default


WORKLOADS = {
    "er_mentions": Workload(n_turns=100_000),
    "er_pairs": Workload(n_turns=10_000, family_scale=24),
}
INCREMENT = 320  # mentions per streamed increment
INCREMENTS = 5  # increments streamed in the traced run

ER_LAYERS = (
    "conversations",
    "mentions.extract",
    "mentions.vertices",
    "blocking",
    "scoring",
    "clustering",
    "canonicalize.entities",
    "canonicalize.mention_edges",
)


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[erbench +{time.perf_counter() - _T0:.1f}s] {msg}", file=sys.stderr, flush=True)


def write_transcripts(spark: SparkSession, wl: Workload, seed: int, path: str) -> DataFrame:
    synthetic_transcripts(
        spark, n_turns=wl.n_turns, seed=seed, family_scale=wl.family_scale
    ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


# ---------------------------------------------------------------------------
# Batch resolution
# ---------------------------------------------------------------------------


def jvm_pid(spark: SparkSession) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _procs() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, user + system + reaped-children CPU ticks)."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        # ppid, then utime, stime, cutime, cstime (stat fields 4, 14-17)
        procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return procs


def process_tree(root: int, procs: dict | None = None) -> list[int]:
    """``root`` and its live descendants."""
    procs = _procs() if procs is None else procs
    children = defaultdict(list)
    for pid, (ppid, _) in procs.items():
        children[ppid].append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            out.append(pid)
            stack.extend(children[pid])
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by process ``root`` and its
    live descendants (the Python worker daemon and its workers), including
    the children each of them has reaped."""
    procs = _procs()
    ticks = sum(procs[pid][1] for pid in process_tree(root, procs))
    return ticks / os.sysconf("SC_CLK_TCK")


def resolve(spark: SparkSession, transcripts: DataFrame, config: PipelineConfig | None = None):
    """One resolution through the shipped pipeline, outputs forced.
    Returns (wall seconds, CPU seconds of the JVM and its Python workers,
    pipeline result, forced outputs)."""
    pid = jvm_pid(spark)
    cpu0 = tree_cpu_s(pid)
    t0 = time.perf_counter()
    r = EntityResolutionPipeline(spark, config).run(transcripts)
    out = er_outputs(r.entities, r.id_map, r.mention_edges)
    wall = time.perf_counter() - t0
    return wall, tree_cpu_s(pid) - cpu0, r, out


def run_er(spark, transcripts, seconds: float, pin) -> dict:
    """Resolve ``transcripts`` at least once, and again while the median
    attempt so far still fits in what is left of ``seconds``. ``walls``
    holds the resolutions that passed their checks, ``op_s`` every
    attempt's wall time, ``failures`` one list of messages per failed
    attempt."""
    walls, cpus, op_s, failures, last = [], [], [], [], None
    attempted = 0
    t0 = time.perf_counter()
    while attempted == 0 or time.perf_counter() - t0 + statistics.median(op_s) <= seconds:
        attempted += 1
        t_op = time.perf_counter()
        try:
            wall, cpu, r, out = resolve(spark, transcripts)
            op_s.append(wall)
            bad = er_failures(out, er_shape(r.mentions, r.vertices, r.id_map), pin)
        except Exception:  # an operation that raises counts as failed
            traceback.print_exc()
            op_s.append(time.perf_counter() - t_op)
            failures.append(["exception"])
            continue
        if bad:
            failures.append(bad)
            log(f"check failed: {bad}")
            continue
        walls.append(wall)
        cpus.append(cpu)
        last = (r, out)
        log(f"resolution {attempted}: {wall:.3f}s wall, {cpu:.2f} CPU-s")
    return {"walls": walls, "cpus": cpus, "op_s": op_s, "attempted": attempted,
            "failures": failures, "last": last}


def count_blocking(vertices: DataFrame) -> tuple[int, int]:
    """Candidate pairs and capped blocks of ``vertices``, counted outside
    the timed region by running the blocking layer again."""
    cfg = PipelineConfig()
    blocks = build_blocks(vertices, n_hashes=cfg.minhash_hashes, bands=cfg.minhash_bands)
    pairs, capped = candidate_pairs(blocks, max_block_size=cfg.max_block_size)
    return pairs.count(), capped.count()


def shape_of(wl: Workload, conversations: int, pairs: int, capped: int, out: dict) -> dict:
    """The shape of a resolved input."""
    return {
        "turns": wl.n_turns,
        "family_scale": wl.family_scale,
        "conversations": conversations,
        "mentions": out["assertions"],
        "vertices": out["id_map_rows"],
        "candidate_pairs": pairs,
        "capped_blocks": capped,
        "mention_edges": out["mention_edges"],
        "entities": out["entities"],
    }


def _force(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def resolve_staged(spark, tracer: Tracer, transcripts: DataFrame, cfg: PipelineConfig) -> dict:
    """The pipeline's stage chain called layer by layer, each layer's output
    forced inside its span. Returns per-layer row counts and extras."""
    rows, extra = {}, {}
    with tracer.span("conversations"):
        conv = _force(assemble_conversations(transcripts))
    rows["conversations"] = conv.count()
    with tracer.span("mentions.extract"):
        mentions = _force(extract_mentions(conv))
    rows["mentions.extract"] = mentions.count()
    with tracer.span("mentions.vertices"):
        vertices = _force(distinct_vertices(mentions))
    rows["mentions.vertices"] = vertices.count()
    with tracer.span("blocking"):
        blocks = build_blocks(vertices, n_hashes=cfg.minhash_hashes, bands=cfg.minhash_bands)
        pairs, capped = candidate_pairs(blocks, max_block_size=cfg.max_block_size)
        pairs = _force(pairs)
    # the pipeline does not count capped blocks unless it writes lineage
    extra["capped_blocks"] = capped.count()
    rows["blocking"] = pairs.count()
    with tracer.span("scoring"):
        edges = _force(matched_edges(score_pairs(pairs, cfg.scoring)))
    rows["scoring"] = edges.count()
    with tracer.span("clustering"):
        components = _force(
            components_for_vertices(
                vertices.select("node_id"),
                edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                max_iterations=cfg.max_cc_iterations,
            )
        )
    rows["clustering"] = components.count()
    with tracer.span("canonicalize.entities"):
        entities = _force(build_entities(vertices, components))
        id_map = _force(build_id_map(components, entities))
    rows["canonicalize.entities"] = entities.count()
    with tracer.span("canonicalize.mention_edges"):
        mention_edges = _force(build_mention_edges(mentions, id_map))
    rows["canonicalize.mention_edges"] = mention_edges.count()
    out = er_outputs(entities, id_map, mention_edges)
    shape = er_shape(mentions, vertices, id_map)
    return {"rows": rows, "extra": extra, "out": out, "shape": shape, "mentions": mentions}


def resolve_durable(spark, tracer: Tracer, transcripts: DataFrame, workdir: str) -> dict:
    """Resolve fresh in workdir mode (writes stage checkpoints and lineage),
    then again on the same workdir (reads them back)."""
    res = {}
    with wrapped_methods(
        tracer, LineageWriter, ("scalar", "partition_counts", "frame"), "lineage",
        bytes_of=lambda self: self.path,
    ), wrapped_methods(
        tracer, StageCheckpoint, ("has", "read", "write", "run"), "checkpoint",
        bytes_of=lambda self: self.workdir,
    ):
        for leg in ("fresh", "resume"):
            with tracer.span(f"durable.{leg}"):
                wall, _cpu, _r, out = resolve(spark, transcripts, PipelineConfig(workdir=workdir))
            res[leg] = {"wall": wall, "out": out}
    return res


# ---------------------------------------------------------------------------
# Day-2 attach stream
# ---------------------------------------------------------------------------

STREAM_SCHEMA = "mention_id string, entity_type string, norm string"


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def perturb(entity_type: str, norm: str) -> str:
    """The day-2 perturbation of ``q_er_attach_increment``: by md5(norm) % 4,
    a person initial or a dropped last character (0), an extra token (1),
    the form itself (2), or a novel surface (3)."""
    md = _md5(norm)
    h = int(md[:8], 16) % 4
    toks = norm.split(" ")
    if h == 0 and entity_type == "Person" and len(toks) == 2:
        return f"{toks[0][:1]} {toks[1]}"
    if h == 0 and entity_type != "Person":
        return norm[:-1]
    if h == 1:
        return norm + " group"
    if h == 2:
        return norm
    return "xq" + md[:6]


def prepare_attach(spark, mentions: DataFrame, seed: int, tmp: str) -> dict:
    """Store = half of the distinct (type, norm) forms among ``mentions``;
    increments = seeded samples of perturbed forms, one parquet file each,
    staged outside the stream's source."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    forms = sorted(
        (r["entity_type"], r["norm"])
        for r in mentions.select("entity_type", "norm").distinct().collect()
    )
    store = [
        (f"{ty}:{n}", _md5(f"e:{ty}:{n}"), ty, n)
        for ty, n in forms
        if int(_md5(f"{seed}:{ty}:{n}")[:8], 16) % 2 == 0
    ]
    catalog = ParquetCatalog(spark, os.path.join(tmp, "catalog"))
    catalog.overwrite(
        "entity_store",
        spark.createDataFrame(store, "form_key string, entity_id string, entity_type string, norm string"),
    )
    day2 = [(ty, p) for ty, n in forms if (p := perturb(ty, n))]
    rng = random.Random(seed)
    staged = os.path.join(tmp, "staged")
    os.makedirs(staged)
    files, sizes = [], []
    for b in range(INCREMENTS):
        picks = [day2[rng.randrange(len(day2))] for _ in range(INCREMENT)]
        tbl = pa.table({
            "mention_id": [_md5(f"m:{seed}:{b}:{i}") for i in range(len(picks))],
            "entity_type": [ty for ty, _ in picks],
            "norm": [n for _, n in picks],
        })
        path = os.path.join(staged, f"inc_{b:05d}.parquet")
        pq.write_table(tbl, path)
        files.append(path)
        sizes.append(len(picks))
    return {
        "catalog": catalog,
        "files": files,
        "sizes": sizes,
        "shape": {"forms": len(forms), "store_forms": len(store), "increment": INCREMENT},
    }


def run_attach(spark, prep: dict, tmp: str, pin) -> dict:
    """Closed loop: move one increment into the stream's source directory,
    wait until its micro-batch commits, then send the next."""
    src = os.path.join(tmp, "stream_src")
    os.makedirs(src)
    catalog = prep["catalog"]
    stream = (
        spark.readStream.schema(STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    query = start_incremental_er(stream, catalog, checkpoint_dir=os.path.join(tmp, "stream_ckpt"))
    lat, progress, batch_spans = [], [], []
    t0 = time.perf_counter()
    try:
        for b, path in enumerate(prep["files"]):
            arrive_epoch = time.time()
            t_arr = time.perf_counter()
            os.rename(path, os.path.join(src, os.path.basename(path)))
            while True:
                p = query.lastProgress
                if p is not None and p["batchId"] >= b and p["numInputRows"] > 0:
                    break
                if not query.isActive:
                    raise RuntimeError(f"stream stopped: {query.exception()}")
                time.sleep(0.005)
            lat.append(time.perf_counter() - t_arr)
            progress.append(p)
            batch_spans.append((arrive_epoch, time.time()))
        loop_wall = time.perf_counter() - t0
    finally:
        query.stop()
    n = len(lat)
    sizes = prep["sizes"][:n]
    batch_bad, run_bad, kinds, hashes = attach_failures(
        catalog, catalog.read("resolutions"), sizes, pin
    )
    for msg in batch_bad + run_bad:
        log(f"check failed: {msg}")
    return {
        "lat": lat,
        "loop_wall": loop_wall,
        "sizes": sizes,
        "progress": progress,
        "batch_spans": batch_spans,
        "attempted": n,
        "batch_failures": batch_bad,
        "run_failures": run_bad,
        "kinds": kinds,
        "batch_hashes": hashes,
    }
