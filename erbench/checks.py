"""Output checks run on every operation.

``er_outputs`` forces a resolution's outputs into a few numbers inside the
timed region (entity and id-map digests, MENTIONS-edge totals);
``er_failures`` then checks the invariants that hold for every seed, plus
the pinned digests of the seeds the benchmark ships. A digest is an
order-independent hash: the sum, modulo 2^64, of Spark's ``xxhash64`` over
every row.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DIGESTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")
MATCH_KINDS = {"exact", "person", "containment", "fuzzy", "new"}


def _digest_col(*cols: str):
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))


def _hex(v) -> str:
    return format(int(v or 0) % (1 << 64), "016x")


def er_outputs(entities: DataFrame, id_map: DataFrame, mention_edges: DataFrame) -> dict:
    """Force the three outputs of a resolution; one action each."""
    e = entities.agg(
        F.count(F.lit(1)).alias("n"),
        _digest_col("entity_id", "entity_type", "name", "aliases", "n_surfaces", "n_mentions").alias("h"),
    ).collect()[0]
    m = id_map.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("node_id").alias("keys"),
        _digest_col("node_id", "entity_id").alias("h"),
    ).collect()[0]
    me = mention_edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("subject", "object").alias("pairs"),
        F.coalesce(F.sum("n_assertions"), F.lit(0)).alias("assertions"),
    ).collect()[0]
    return {
        "entities": int(e["n"]),
        "entities_hash": _hex(e["h"]),
        "id_map_rows": int(m["n"]),
        "id_map_keys": int(m["keys"]),
        "id_map_hash": _hex(m["h"]),
        "mention_edges": int(me["n"]),
        "mention_edge_pairs": int(me["pairs"]),
        "assertions": int(me["assertions"]),
    }


def er_shape(mentions: DataFrame, vertices: DataFrame, id_map: DataFrame) -> dict:
    """Counts the invariants need beyond ``er_outputs`` (run untimed)."""
    return {
        "mentions": mentions.count(),
        "vertices": vertices.count(),
        "unmapped_vertices": vertices.join(id_map, "node_id", "left_anti").count(),
    }


def pinned(workload: str, seed: int) -> dict | None:
    with open(DIGESTS_PATH) as f:
        return json.load(f).get(workload, {}).get(str(seed))


def er_failures(out: dict, shape: dict, pin: dict | None) -> list[str]:
    bad = []
    if out["mention_edges"] != out["mention_edge_pairs"]:
        bad.append("MENTIONS edges not unique per (conversation, entity)")
    if out["assertions"] != shape["mentions"]:
        bad.append(f"n_assertions sum {out['assertions']} != mentions {shape['mentions']}")
    if out["id_map_rows"] != out["id_map_keys"]:
        bad.append("id_map maps a vertex to more than one entity")
    if shape["unmapped_vertices"] or out["id_map_keys"] != shape["vertices"]:
        bad.append("id_map does not cover every vertex exactly")
    if not 0 < out["entities"] <= shape["vertices"]:
        bad.append(f"entities {out['entities']} not in (0, vertices {shape['vertices']}]")
    if pin is not None:
        for k in ("entities", "entities_hash", "id_map_hash"):
            if out[k] != pin[k]:
                bad.append(f"{k} {out[k]} != pinned {pin[k]}")
    return bad


def attach_failures(
    catalog, resolutions: DataFrame, sizes: list[int], pin: dict | None
) -> tuple[list[str], list[str], dict, list[str]]:
    """Check the streamed tables after the run. ``sizes[b]`` is the number
    of mentions streamed in batch b; ``pin["batch_hashes"]`` holds the
    pinned resolution digests of the first batches. Returns (one message
    per failed batch, run-level failures, match-kind counts, per-batch
    digests)."""
    per_batch = resolutions.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("match_kind").isin(*MATCH_KINDS), 0).otherwise(1)).alias("bad_kind"),
        _digest_col("mention_id", "entity_id", "match_kind").alias("h"),
    ).collect()
    got = {int(r["batch_id"]): (int(r["n"]), int(r["bad_kind"]), _hex(r["h"])) for r in per_batch}
    pins = (pin or {}).get("batch_hashes", [])
    batch_bad, hashes = [], []
    for b, size in enumerate(sizes):
        n, bad_kind, h = got.get(b, (0, 0, ""))
        hashes.append(h)
        if n != size:
            batch_bad.append(f"batch {b}: {n} resolution rows for {size} mentions")
        elif bad_kind:
            batch_bad.append(f"batch {b}: {bad_kind} rows with an unknown match kind")
        elif b < len(pins) and h != pins[b]:
            batch_bad.append(f"batch {b}: digest {h} != pinned {pins[b]}")
    run_bad = []
    extra = set(got) - set(range(len(sizes)))
    if extra:
        run_bad.append(f"resolutions for batches never streamed: {sorted(extra)}")
    for table, key in (("resolutions", "mention_id"), ("entity_store", "form_key")):
        dup = catalog.duplicate_audit(table, key).count()
        if dup:
            run_bad.append(f"duplicate_audit({table}) returned {dup} rows")
    kinds = {
        r["match_kind"]: int(r["n"])
        for r in resolutions.groupBy("match_kind").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    missing = MATCH_KINDS - set(kinds)
    if missing:
        run_bad.append(f"match kinds never hit: {sorted(missing)}")
    return batch_bad, run_bad, kinds, hashes
