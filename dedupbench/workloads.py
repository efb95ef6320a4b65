"""Jobs the benchmark times, their checks, and the traced passes.

A *job* is one call into the program's public entry point plus the action
that materializes its result.  Only the job is inside the clock; every
check runs after the clock stops.

The traced passes are the benchmark's own copy of the pipeline staging
(``operators/pipeline.py:dedup_pipeline``), cut at each layer boundary with
a materializing action so each layer can be timed from outside.  The traced
labels are compared with the untraced job's labels on every traced run, so
this copy cannot drift from the program unnoticed.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import functions as F

from jsonschema_jl_spark.config import DEFAULT_CONFIG as CFG
from jsonschema_jl_spark.gate.gate import GateMetrics, apply_gate, gate_filter
from jsonschema_jl_spark.gate.dynamic_native import plan_dynamic
from jsonschema_jl_spark.io.checkpoint import CheckpointManager, resumable_pipeline
from jsonschema_jl_spark.operators.components import connected_components
from jsonschema_jl_spark.operators.lsh import band_buckets, candidate_pairs
from jsonschema_jl_spark.operators.minhash import normalize_signatures_bands
from jsonschema_jl_spark.operators.phash import phash_pairs
from jsonschema_jl_spark.operators.pipeline import IMAGES_GATE_SCHEMA, dedup_pipeline
from jsonschema_jl_spark.operators.substring import containment_pairs
from jsonschema_jl_spark.operators.verify import verify_jaccard_text

from spans import Tracer

MIN_RECALL = 0.99
JSON_COL = "doc"


# ------------------------------------------------------------- checks ----


def pair_recall(labels: dict, truth: dict) -> float:
    """Share of planted pairs whose two members got the same component."""
    pairs = truth["pairs"]
    hit = sum(1 for a, b, _ in pairs if a in labels and labels.get(a) == labels.get(b))
    return hit / len(pairs)


def check_labels(labels: dict, n_rows: int, truth: dict) -> tuple[bool, float, str]:
    """Label count equals the planted valid count (this also catches nid
    hash collisions, which duplicate rows in the label join) and planted
    pair recall is at least MIN_RECALL."""
    recall = pair_recall(labels, truth)
    if n_rows != truth["valid"] or len(labels) != truth["valid"]:
        return False, recall, f"label rows {n_rows} (distinct {len(labels)}) != valid {truth['valid']}"
    if recall < MIN_RECALL:
        return False, recall, f"pair recall {recall:.4f} < {MIN_RECALL}"
    return True, recall, ""


def check_histogram(hist: dict, truth: dict) -> tuple[bool, str]:
    if hist != truth["histogram"]:
        return False, f"reason histogram {hist} != planted {truth['histogram']}"
    return True, ""


def _labels_of(rows) -> tuple[dict, int]:
    return {r["image_id"]: r["component"] for r in rows}, len(rows)


# --------------------------------------------------------- dedup_batch ----


def dedup_job(spark, path: str) -> tuple[dict, int]:
    """Timed job: dedup_pipeline over the Parquet input, labels collected."""
    res = dedup_pipeline(spark.read.parquet(path))
    try:
        return _labels_of(res.labels.collect())
    finally:
        res.cleanup()


def dedup_traced(spark, path: str, tr: Tracer, truth: dict) -> tuple[dict, int, dict]:
    """dedup_pipeline's staging, one traced layer at a time.

    Returns (labels, label rows, counts) and leaves the materialized frames
    the checkpoint layer writes in counts["frames"]."""
    c: dict = {"gate.rows_in": truth["rows"]}
    cached = []

    def keep(df):
        df = df.persist()
        cached.append(df)
        return df

    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with tr.job():
        images = spark.read.parquet(path)
        with tr.layer("gate"):
            valid = keep(gate_filter(images, IMAGES_GATE_SCHEMA))
            c["gate.rows_valid"] = valid.count()
        with tr.layer("minhash"):
            slim = valid.select(
                F.xxhash64("image_id").alias("nid"), "image_id", "caption", "phash"
            ).repartition(par)
            slim = keep(normalize_signatures_bands(
                slim, text_col="caption", cfg=CFG, out_text_col="txt_norm"
            ))
            n_valid = slim.count()
            c["minhash.rows"] = n_valid
        hot_par = max(par, n_valid // 50_000)
        op_caches: list = []
        with tr.layer("lsh"):
            buckets = band_buckets(slim, id_col="nid", cfg=CFG, bands_col="bands")
            cands, skew = candidate_pairs(
                buckets, CFG, with_metrics=True, cache_registry=op_caches,
                num_partitions=hot_par,
            )
            cands = keep(cands)
            c["lsh.candidate_pairs"] = cands.count()
            c["lsh.capped_buckets"] = skew.capped_buckets
        with tr.aside():
            c["lsh.bucket_rows"] = op_caches[0].count()
        with tr.layer("verify"):
            cap = keep(verify_jaccard_text(
                cands, slim, id_col="nid", text_col="txt_norm", cfg=CFG,
                assume_normalized=True, num_partitions=hot_par,
            ).select("src", "dst", F.lit(0).alias("pri")))
            c["verify.pairs_out"] = cap.count()
        with tr.layer("phash"):
            ph = keep(phash_pairs(
                slim, id_col="nid", cfg=CFG, cache_registry=op_caches,
                num_partitions=hot_par,
            ).select("src", "dst", F.lit(1).alias("pri")))
            c["phash.pairs_out"] = ph.count()
        with tr.layer("substring"):
            cont = keep(containment_pairs(
                slim, id_col="nid", text_col="txt_norm", cfg=CFG,
                assume_normalized=True, cache_registry=op_caches,
                num_partitions=hot_par,
            ).select("src", "dst", F.lit(2).alias("pri")))
            c["substring.pairs_out"] = cont.count()
        with tr.layer("pipeline.edge_union"):
            edges = (
                cap.unionByName(ph).unionByName(cont)
                .groupBy("src", "dst").agg(F.min("pri").alias("pri"))
                .select(
                    "src", "dst",
                    F.when(F.col("pri") == 0, "caption")
                    .when(F.col("pri") == 1, "phash")
                    .otherwise("substring").alias("kind"),
                )
                .localCheckpoint(eager=True)
            )
            for df in op_caches + cached[2:]:
                df.unpersist()
            n_edges = edges.count()
            c["pipeline.edges"] = n_edges
        with tr.layer("components"):
            cc_par = min(par, max(8, (n_edges + 249_999) // 250_000))
            nid_labels = keep(connected_components(
                edges.select("src", "dst"), vertices=slim.select("nid"),
                max_iters=CFG.cc_max_iters, shuffle_partitions=cc_par,
            ))
            nid_labels.count()
        with tr.layer("pipeline.label_join"):
            iddict = slim.select("nid", "image_id")
            comp_names = iddict.select(
                F.col("nid").alias("component"), F.col("image_id").alias("component_id")
            )
            labels_df = (
                nid_labels.join(iddict, nid_labels.id == iddict.nid)
                .join(comp_names, "component")
                .select("image_id", F.col("component_id").alias("component"))
            )
            labels, n = _labels_of(labels_df.collect())
    c["frames"] = {"signatures": slim, "edges": edges.select("src", "dst"), "labels": labels_df}
    c["release"] = [valid, slim, nid_labels]
    return labels, n, c


def checkpoint_layer(spark, tr: Tracer, frames: dict, root: str) -> dict:
    """The checkpoint layer on the write path resumable_pipeline takes:
    three stages, each written as 8 hash buckets with read-back counts."""
    ckpt = CheckpointManager(os.path.join(root, uuid.uuid4().hex), CFG, input_desc="bench")
    with tr.layer("checkpoint"):
        ckpt.write_stage(frames["signatures"], "signatures", id_col="image_id")
        ckpt.write_stage(frames["edges"], "edges", id_col="src")
        ckpt.write_stage(frames["labels"], "labels", id_col="image_id")
    size = 0
    for d, _, files in os.walk(ckpt.base):
        size += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    shutil.rmtree(ckpt.root, ignore_errors=True)
    span = tr.spans["checkpoint"]
    return {
        "checkpoint.write_s": span.wall_s,
        "checkpoint.write_mb": size / (1024 * 1024),
        "checkpoint.spark_jobs": span.metrics["spark_jobs"],
    }


def resumable_labels(spark, path: str, root: str) -> dict:
    """resumable_pipeline labels, with a fresh checkpoint root every call so
    no earlier job's checkpoint is ever reused."""
    ckpt_root = os.path.join(root, uuid.uuid4().hex)
    try:
        ckpt = CheckpointManager(ckpt_root, CFG, input_desc="bench")
        return _labels_of(resumable_pipeline(spark, spark.read.parquet(path), ckpt, CFG).collect())[0]
    finally:
        shutil.rmtree(ckpt_root, ignore_errors=True)


def dedup_layer_report(tr: Tracer, c: dict) -> dict:
    s = tr.spans
    out = {
        "gate.wall_s": s["gate"].wall_s,
        "gate.task_s": s["gate"].metrics["task_s"],
        "gate.rows_in": c["gate.rows_in"],
        "gate.rows_valid": c["gate.rows_valid"],
        # typed input compiles to the native gate: the layer is the filter,
        # and no screen, walk or dynamic lane runs
        "gate.filter_s": s["gate"].wall_s,
        "minhash.rows": c["minhash.rows"],
        "lsh.shuffle_write_mb": s["lsh"].metrics["shuffle_write_mb"],
        "lsh.spill_mb": s["lsh"].metrics["spill_mb"],
        "lsh.bucket_rows": c["lsh.bucket_rows"],
        "lsh.candidate_pairs": c["lsh.candidate_pairs"],
        "lsh.capped_buckets": c["lsh.capped_buckets"],
        "verify.pairs_out": c["verify.pairs_out"],
        "verify.precision": c["verify.pairs_out"] / max(1, c["lsh.candidate_pairs"]),
        "phash.pairs_out": c["phash.pairs_out"],
        "substring.shuffle_write_mb": s["substring"].metrics["shuffle_write_mb"],
        "substring.pairs_out": c["substring.pairs_out"],
        "components.spark_jobs": s["components"].metrics["spark_jobs"],
        "pipeline.edge_union_s": s["pipeline.edge_union"].wall_s,
        "pipeline.label_join_s": s["pipeline.label_join"].wall_s,
        "pipeline.edges": c["pipeline.edges"],
    }
    for layer in ("minhash", "lsh", "verify", "phash", "substring", "components"):
        out[f"{layer}.wall_s"] = s[layer].wall_s
        out[f"{layer}.task_s"] = s[layer].metrics["task_s"]
    return out


# ---------------------------------------------------- gate_json_intake ----


def _histogram(df) -> dict:
    rows = df.groupBy(F.col("issue.reason").alias("reason")).count().collect()
    return {str(r["reason"]): r["count"] for r in rows}


def gate_job(spark, path: str, metrics: GateMetrics | None = None) -> dict:
    """Timed job: apply_gate over the JSON column, reason histogram collected."""
    df = spark.read.parquet(path)
    return _histogram(apply_gate(df, IMAGES_GATE_SCHEMA, json_col=JSON_COL, metrics=metrics))


def gate_reason_recall(spark, path: str, truth: dict) -> float:
    """Share of rows whose issue.reason equals the planted one (untimed)."""
    df = apply_gate(spark.read.parquet(path), IMAGES_GATE_SCHEMA, json_col=JSON_COL)
    got = df.select("rid", F.col("issue.reason").alias("reason")).toPandas()
    want = truth["reasons"]
    hit = sum(1 for rid, r in zip(got["rid"], got["reason"]) if want[rid] == r)
    return hit / len(want)


def gate_traced(spark, path: str, tr: Tracer, lanes: Tracer, truth: dict) -> tuple[dict, dict]:
    """The gate job traced as one layer, then the verdict-only filter lane
    and the dynamic_native lane as separate layers outside the job."""
    gm = GateMetrics(spark)
    with tr.job():
        with tr.layer("gate"):
            hist = gate_job(spark, path, metrics=gm)
    m = gm.as_dict()
    df = spark.read.parquet(path)
    with lanes.layer("gate.filter"):
        n_filter = gate_filter(df, IMAGES_GATE_SCHEMA, json_col=JSON_COL).count()
    with lanes.layer("gate.dynamic_native"):
        n_native = gate_filter(
            df, IMAGES_GATE_SCHEMA, json_col=JSON_COL, dynamic_native=True
        ).count()
    out = {
        "gate.wall_s": tr.spans["gate"].wall_s,
        "gate.task_s": tr.spans["gate"].metrics["task_s"],
        "gate.rows_in": sum(hist.values()),
        "gate.rows_valid": hist.get("None", 0),
        "gate.screen_rate": m["screen_rate"] or 0.0,
        "gate.walked_rows": m["walked"],
        "gate.fallback_rows": m["fallback_rows"],
        "gate.filter_s": lanes.spans["gate.filter"].wall_s,
        "gate.dynamic_native_s": lanes.spans["gate.dynamic_native"].wall_s,
        "gate.dynamic_native_planned": int(plan_dynamic(IMAGES_GATE_SCHEMA) is not None),
        "lanes_valid": (n_filter, n_native),
    }
    return hist, out

