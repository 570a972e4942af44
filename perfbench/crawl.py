"""The operations a crawl workload measures -- batch pipeline runs,
incremental epochs, the traced layer-by-layer run -- and their output
checks, which run outside the timed regions."""

from __future__ import annotations

import hashlib
import os
import time

import pyarrow.parquet as pq

from inputs import DUP_KINDS, dir_bytes

MIN_RECALL = 0.99


# ---- output checks ---------------------------------------------------------


def clusters_digest(labels: dict[str, str]) -> str:
    h = hashlib.sha256()
    for url in sorted(labels):
        h.update(f"{url}\x1f{labels[url]}\n".encode())
    return h.hexdigest()


def read_labels(clusters_dir: str) -> dict[str, str]:
    t = pq.read_table(clusters_dir, columns=["url", "cluster_id"])
    return dict(zip(t.column("url").to_pylist(), t.column("cluster_id").to_pylist()))


def family_stats(labels: dict[str, str], truth) -> dict[str, float]:
    """recall over planted exact/near95/near90/near80 pairs, and
    band_precision = 1 - the share of planted near50 pairs merged."""

    def same(sub) -> int:
        return sum(
            labels.get(a) is not None and labels.get(a) == labels.get(b)
            for a, b in zip(sub["src"], sub["dst"])
        )

    dup = truth[truth["kind"].isin(DUP_KINDS)]
    far = truth[truth["kind"] == "near50"]
    return {
        "recall": same(dup) / len(dup),
        "band_precision": 1.0 - same(far) / len(far),
    }


def components_of(urls, edges: list[tuple[str, str]]) -> dict[str, str]:
    """Min-url connected-component labels (union-find), the same labelling
    rule as the engine's clusters table."""
    parent = {u: u for u in urls}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {u: find(u) for u in parent}


# ---- batch pipeline --------------------------------------------------------


def pipeline_run(spark, pages_dir: str, workdir: str) -> float:
    """One DedupPipeline run at the library default config on a fresh
    work dir; returns wall seconds from run() to materialized clusters."""
    from name_deduplication_python_spark.pipeline import DedupConfig, DedupPipeline

    pages = spark.read.parquet(pages_dir)
    t0 = time.perf_counter()
    DedupPipeline(spark, workdir, DedupConfig()).run(pages)
    return time.perf_counter() - t0


class BatchCheck:
    """Checks every measured run: recall >= MIN_RECALL and the same
    clusters digest on every run of the invocation."""

    def __init__(self, truth) -> None:
        self.truth = truth
        self.digest: str | None = None
        self.stats: dict[str, float] | None = None
        self.errors: list[str] = []

    def __call__(self, clusters_dir: str) -> bool:
        labels = read_labels(clusters_dir)
        digest = clusters_digest(labels)
        stats = family_stats(labels, self.truth)
        ok = True
        if self.digest is None:
            self.digest, self.stats = digest, stats
        elif digest != self.digest:
            self.errors.append(f"clusters digest differs between runs: {clusters_dir}")
            ok = False
        if stats["recall"] < MIN_RECALL:
            self.errors.append(f"recall {stats['recall']:.4f} < {MIN_RECALL}")
            ok = False
        return ok


# ---- incremental -----------------------------------------------------------


def incremental_phase(spark, epoch_dirs: list[str], store: str, span):
    """Feed the epochs through IncrementalDedup.process_batch on a fresh
    store, each epoch inside span(name). Returns (epoch walls, store bytes
    after the last epoch)."""
    from name_deduplication_python_spark.streaming.incremental import IncrementalDedup

    inc = IncrementalDedup(spark, store)
    walls = []
    for e, d in enumerate(epoch_dirs):
        pages = spark.read.parquet(d)
        t0 = time.perf_counter()
        with span(f"incremental.epoch{e}"):
            inc.process_batch(pages, e)
        walls.append(time.perf_counter() - t0)
    stored = sum(
        dir_bytes(os.path.join(store, sub))
        for sub in ("signatures", "band_keys", "edges")
    )
    return walls, stored


def check_incremental(store: str, n_epochs: int, urls, truth) -> tuple[list[str], dict]:
    """Every epoch committed, and CC over the union of epoch edges keeps
    recall >= MIN_RECALL."""
    errors = [
        f"epoch {e} not committed"
        for e in range(n_epochs)
        if not os.path.exists(
            os.path.join(store, "signatures", f"epoch={e}", "_SUCCESS")
        )
    ]
    t = pq.read_table(os.path.join(store, "edges"), columns=["src", "dst"])
    edges = list(zip(t.column("src").to_pylist(), t.column("dst").to_pylist()))
    stats = family_stats(components_of(urls, edges), truth)
    if stats["recall"] < MIN_RECALL:
        errors.append(f"incremental recall {stats['recall']:.4f} < {MIN_RECALL}")
    return errors, stats


# ---- traced layer run ------------------------------------------------------


def _rows(path: str) -> int:
    """Row count from the parquet footers (no Spark job)."""
    return sum(pq.ParquetFile(f).metadata.num_rows for f in pq.ParquetDataset(path).files)


def traced_layers(spark, pages_dir: str, out: str, tracer) -> dict[str, float]:
    """The staged pipeline's layers called one by one through their public
    functions, each materialized under `out` inside its own span. Returns
    the per-layer counts; the clusters land in out/clusters."""
    from pyspark.sql import functions as F

    from name_deduplication_python_spark.operators.components import (
        components_with_exact_map,
    )
    from name_deduplication_python_spark.operators.extract import extract_stage
    from name_deduplication_python_spark.operators.lsh import band_keys, candidate_pairs
    from name_deduplication_python_spark.operators.signatures import (
        collapse_hash_exprs,
        signature_collapse,
        signature_stage,
    )
    from name_deduplication_python_spark.operators.verify import verify_stage
    from name_deduplication_python_spark.pipeline import DedupConfig

    cfg = DedupConfig()
    p = {k: os.path.join(out, k) for k in
         ("extracted", "signatures", "exact_map", "pairs", "edges", "clusters")}
    counts: dict[str, float] = {}

    with tracer.span("extract"):
        extract_stage(spark.read.parquet(pages_dir)).write.parquet(p["extracted"])
    counts["extract.rows"] = _rows(p["extracted"])

    with tracer.span("signatures"):
        sigs = signature_stage(
            spark.read.parquet(p["extracted"]),
            num_hashes=cfg.num_hashes, shingle_k=cfg.shingle_k, seed=cfg.seed,
        )
        for name, expr in collapse_hash_exprs(
            id_col="url", hash_bits=cfg.collapse_hash_bits
        ).items():
            sigs = sigs.withColumn(name, expr)
        sigs.write.parquet(p["signatures"])
    counts["signatures.rows"] = _rows(p["signatures"])

    with tracer.span("collapse"):
        signature_collapse(
            spark.read.parquet(p["signatures"]), hash_bits=cfg.collapse_hash_bits
        ).write.parquet(p["exact_map"])
    em = pq.read_table(p["exact_map"], columns=["url", "rep"])
    reps = set(em.column("rep").to_pylist())
    counts["collapse.rep_ratio"] = len(reps) / em.num_rows

    with tracer.span("lsh"):
        sigs_u = spark.read.parquet(p["signatures"]).withColumn(
            "uid", F.xxhash64("url")
        )
        rep_uids = (
            spark.read.parquet(p["exact_map"])
            .where(F.col("url") == F.col("rep"))
            .select(F.xxhash64("rep").alias("uid"))
        )
        keys = band_keys(
            sigs_u.join(F.broadcast(rep_uids), "uid", "left_semi"),
            id_col="uid", bands=cfg.bands, rows_per_band=cfg.rows_per_band,
        )
        pairs, obs = candidate_pairs(keys, id_col="uid", bucket_cap=cfg.bucket_cap)
        pairs.write.parquet(p["pairs"])
    counts["lsh.candidate_pairs"] = _rows(p["pairs"])
    stats = obs.get if counts["lsh.candidate_pairs"] else {}
    counts["lsh.max_bucket"] = float(stats.get("max_bucket", 0))
    counts["lsh.n_hot"] = float(stats.get("n_hot", 0))
    sg = pq.read_table(p["signatures"], columns=["url", "n_shingles"])
    n_band_docs = sum(
        1 for u, n in zip(sg.column("url").to_pylist(), sg.column("n_shingles").to_pylist())
        if n > 0 and u in reps
    )
    counts["lsh.band_rows"] = n_band_docs * cfg.bands

    with tracer.span("verify"):
        verify_stage(
            spark.read.parquet(p["pairs"]),
            spark.read.parquet(p["signatures"]).withColumn("uid", F.xxhash64("url")),
            id_col="uid", label_col="url",
            num_hashes=cfg.num_hashes,
            jaccard_threshold=cfg.jaccard_threshold,
            simhash_radius=cfg.simhash_radius,
            hamming_est_floor=cfg.hamming_est_floor,
        ).write.parquet(p["edges"])
    counts["verify.edges"] = _rows(p["edges"])
    counts["verify.verify_yield"] = counts["verify.edges"] / max(
        counts["lsh.candidate_pairs"], 1
    )

    with tracer.span("components"):
        components_with_exact_map(
            spark.read.parquet(p["edges"]).select("src", "dst"),
            spark.read.parquet(p["exact_map"]),
            edge_count_hint=int(counts["verify.edges"]),
            edges_distinct=True,
            small_graph_threshold=cfg.cc_small_graph_threshold,
            string_hash_threshold=cfg.cc_string_hash_threshold,
            broadcast_edge_threshold=cfg.cc_broadcast_edge_threshold,
        ).write.parquet(p["clusters"])
    labels = read_labels(p["clusters"])
    counts["components.clusters"] = len(set(labels.values()))
    return counts
