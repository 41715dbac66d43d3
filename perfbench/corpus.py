"""corpus_refresh: near-duplicate curation of a document corpus, then an
IVF-PQ index over the survivors' embeddings, probed before and after an
index delta (add + remove).
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import time

import numpy as np
import pyarrow.parquet as pq

import checks
import harness
import inputs
from harness import median

N_BASE = 2_000
N_FAMILIES = 320
THRESHOLD = 0.6  # minhash_lsh_pairs default
RECALL_MARGIN = 0.2
PAIR_RECALL_FLOOR = 0.8
# serving geometry: 16 coarse clusters, 16 PQ sub-spaces of 4 dims x 16 codes,
# 3 k-means and 2 PQ Lloyd iterations on a 1/4 hash-sample; probes visit 4 clusters for the top 10
GEOMETRY = dict(n_clusters=16, kmeans_iterations=3, m=16, n_codes=16, pq_iterations=2,
                sample_hex="0123")
# the warm-up runs each plan once: more Lloyd iterations repeat the same plans
WARM_GEOMETRY = dict(GEOMETRY, kmeans_iterations=1, pq_iterations=1)
K, N_PROBE = 10, 4
QUERY_BATCH = 30
PROBE_BATCHES = 2
QUERY_NOISE = 0.05
DELTA_SHARE = 10  # the delta adds and removes n_base / 10 vectors each
HIT_FLOOR = 0.8
ADD_ID0 = 10_000_000
# exact_dedup, minhash_lsh_pairs, dup_clusters, the curated write, build, add,
# remove, and the probe batches before and after the delta
OPS_PER_ROUND = 7 + 2 * PROBE_BATCHES


def _pkg():
    from k8s_vectordb_sync_spark.operators import ann_index, dedup

    return ann_index, dedup


def _inputs(rng, work: str, tag: str, n_base: int, n_families: int) -> dict:
    """Corpus, embeddings, the delta and the planted query batches."""
    c = inputs.corpus(rng, n_base, n_families)
    d = os.path.join(work, tag)
    inputs.write_docs(c["docs"], os.path.join(d, "docs.parquet"))
    inputs.write_vectors(c["ids"], c["vectors"], os.path.join(d, "emb", "part-0.parquet"))
    in_family = {i for fam in c["families"] for i in fam}
    singles = np.array([i for i in c["ids"] if i not in in_family])
    n_delta = n_base // DELTA_SHARE
    removed = rng.choice(singles, n_delta, replace=False)
    kept = np.setdiff1d(singles, removed)
    add_ids = np.arange(ADD_ID0, ADD_ID0 + n_delta, dtype=np.int64)
    add_vecs = inputs.fresh_vectors(rng, c["centers"], n_delta)
    inputs.write_vectors(add_ids, add_vecs, os.path.join(d, "add", "part-0.parquet"))
    vec_of = dict(zip(c["ids"].tolist(), c["vectors"]))
    vec_of.update(zip(add_ids.tolist(), add_vecs))

    def batch(sources, qid0):
        qs = [(qid0 + j, int(s), (vec_of[int(s)] + rng.normal(0, QUERY_NOISE, inputs.DIM))
               .astype(np.float32)) for j, s in enumerate(sources)]
        return qs

    before = [batch(rng.choice(kept, QUERY_BATCH, replace=False), b * QUERY_BATCH)
              for b in range(PROBE_BATCHES)]
    after = []
    for b in range(PROBE_BATCHES):
        # a third each: unchanged corpus vectors, added vectors, removed vectors
        n = QUERY_BATCH // 3
        src = np.concatenate([rng.choice(kept, QUERY_BATCH - 2 * n, replace=False),
                              rng.choice(add_ids, n, replace=False),
                              rng.choice(removed, n, replace=False)])
        after.append(batch(src, (PROBE_BATCHES + b) * QUERY_BATCH))
    return {
        "dir": d, "corpus": c, "removed": removed, "add_ids": add_ids,
        "before": before, "after": after,
        "shingles": {int(i): checks.shingle_set(t) for i, t in zip(c["docs"]["doc_id"], c["docs"]["text"])},
    }


def corpus_refresh(ctx: dict) -> dict:
    spark, tracer, work = ctx["spark"], ctx["tracer"], ctx["work"]
    ann_index, dedup = _pkg()
    orig_rewrite = ann_index.staged_partition_rewrite
    if tracer.enabled:
        ann_index.staged_partition_rewrite = tracer.wrap("staging.rewrite", orig_rewrite)

    rng = np.random.default_rng(ctx["seed"])
    main = _inputs(rng, work, "main", N_BASE, N_FAMILIES)
    warm = _inputs(np.random.default_rng([ctx["seed"], 1]), work, "warm", N_BASE // 8, N_FAMILIES // 8)
    warm["before"], warm["after"] = warm["before"][:1], []
    index_files: dict = {}
    cand: list[float] = []

    def new_bytes(path: str) -> int:
        files = {p: os.path.getsize(p) for p in glob.glob(os.path.join(path, "**", "*.parquet"),
                                                           recursive=True)}
        n = sum(s for p, s in files.items() if p not in index_files)
        index_files.clear()
        index_files.update(files)
        return n

    def probe(idx: str, qs) -> tuple[list, float]:
        qdf = spark.createDataFrame(
            [(q, v.tolist()) for q, _, v in qs], "query_id long, query_vec array<float>")
        t = time.time()
        with tracer.span("ann_index.probe"):
            rows = ann_index.ivf_pq_probe(spark, idx, qdf, k=K, n_probe=N_PROBE).collect()
        return [(r["query_id"], r["neighbor_id"], r["score"], r["rank"]) for r in rows], time.time() - t

    def one_round(inp: dict, tag: str, geometry: dict) -> dict:
        d = inp["dir"]
        idx = os.path.join(work, f"index-{tag}")
        errs: list[str] = []
        t0, cpu0 = time.time(), harness.tree_cpu_s()
        docs = spark.read.parquet(os.path.join(d, "docs.parquet"))
        with tracer.span("dedup.exact_dedup"):
            exact = [(r["keep_doc_id"], r["dup_count"])
                     for r in dedup.exact_dedup(docs).select("keep_doc_id", "dup_count").collect()]
        with tracer.span("dedup.minhash_lsh_pairs"):
            pairs = [(r["doc_a"], r["doc_b"]) for r in dedup.minhash_lsh_pairs(
                docs, threshold=THRESHOLD).select("doc_a", "doc_b").collect()]
        spark.catalog.clearCache()  # minhash_lsh_pairs leaves its shingle frame cached
        with tracer.span("dedup.dup_clusters"):
            labels = [(r["doc_id"], r["cluster_id"]) for r in dedup.dup_clusters(
                spark.createDataFrame(pairs, "doc_a long, doc_b long")).collect()]
        dropped = sorted({d_ for d_, c in labels if d_ != c})
        # the curated corpus: survivors' embeddings, written once and indexed
        emb = spark.read.parquet(os.path.join(d, "emb"))
        if dropped:
            emb = emb.join(spark.createDataFrame([(i,) for i in dropped], "vec_id long"),
                           "vec_id", "left_anti")
        curated = os.path.join(work, f"curated-{tag}")
        emb.write.parquet(curated)
        with tracer.span("ann_index.build"):
            ann_index.build_ivf_pq_index(spark.read.parquet(curated), idx, **geometry)
        written = new_bytes(idx)
        before, probe_s = [], []
        for qs in inp["before"]:
            rows, s = probe(idx, qs)
            before.append((qs, rows))
            probe_s.append(s)
        with tracer.span("ann_index.ivf_pq_index_add"):
            ann_index.ivf_pq_index_add(spark.read.parquet(os.path.join(d, "add")), idx)
        written += new_bytes(idx)
        with tracer.span("ann_index.ivf_pq_index_remove"):
            ann_index.ivf_pq_index_remove(spark, idx, spark.createDataFrame(
                [(int(i),) for i in inp["removed"]], "vec_id long"))
        written += new_bytes(idx)
        after = []
        for qs in inp["after"]:
            rows, s = probe(idx, qs)
            after.append((qs, rows))
            probe_s.append(s)
        run_s, cpu_s = time.time() - t0, harness.tree_cpu_s() - cpu0
        if tracer.enabled and tag != "warm" and not cand:
            cand.extend(_candidates(idx, inp["before"]))
        index_files.clear()
        shutil.rmtree(idx, ignore_errors=True)
        shutil.rmtree(curated, ignore_errors=True)
        if tag == "warm":
            return {}

        # checks, outside the timed round
        errs += checks.check_exact_dedup(exact, inp["corpus"]["docs"])
        e, recall = checks.check_pairs(pairs, inp["shingles"], THRESHOLD,
                                       inp["corpus"]["families"], RECALL_MARGIN, PAIR_RECALL_FLOOR)
        errs += e
        errs += checks.check_clusters(labels, pairs)
        for qs, rows in before + after:
            errs += checks.check_topk(rows, [q for q, _, _ in qs], K)
        removed = set(inp["removed"].tolist())
        added = set(inp["add_ids"].tolist())
        all_before = [r for _, rows in before for r in rows]
        all_after = [r for _, rows in after for r in rows]
        planted_b = {q: s for qs, _ in before for q, s, _ in qs}
        planted_a = {q: s for qs, _ in after for q, s, _ in qs if s not in removed and s not in added}
        planted_add = {q: s for qs, _ in after for q, s, _ in qs if s in added}
        e, hit_b = checks.check_hits(all_before, planted_b, HIT_FLOOR, "before the delta")
        errs += e
        e, hit_a = checks.check_hits(all_after, planted_a, HIT_FLOOR, "after the delta")
        errs += e
        e, hit_add = checks.check_hits(all_after, planted_add, HIT_FLOOR, "added vectors")
        errs += e
        errs += checks.check_removed(all_after, removed)
        return {"run_s": run_s, "cpu_s": cpu_s, "probe_s": probe_s, "bytes": written, "errors": errs,
                "quality": {"pair_recall": recall, "hit_before": hit_b, "hit_after": hit_a,
                            "hit_added": hit_add}}

    try:
        one_round(warm, "warm", WARM_GEOMETRY)
        t_first = tracer.since = time.time()
        setup_s = t_first - ctx["proc_start"]
        results = []
        rounds = failed_rounds = 0
        while not rounds or time.time() - t_first < ctx["seconds"]:
            rounds += 1
            try:
                with tracer.span("round", round=rounds) as rec:
                    tracer.root = rec["id"] if rec else None
                    results.append(one_round(main, str(rounds), GEOMETRY))
            except Exception as exc:  # a failed round counts all its operations as failed
                failed_rounds += 1
                print(f"corpus_refresh: round {rounds} failed: {exc}", file=sys.stderr, flush=True)
                for tag in ("index", "curated"):
                    shutil.rmtree(os.path.join(work, f"{tag}-{rounds}"), ignore_errors=True)
        t_last = time.time()
    finally:
        ann_index.staged_partition_rewrite = orig_rewrite

    errors = [e for r in results for e in r["errors"]]
    for e in errors[:5]:
        print(f"corpus_refresh: {e}", file=sys.stderr, flush=True)
    if results:
        print(f"corpus_refresh quality: {results[0]['quality']}", file=sys.stderr, flush=True)
    layers: dict = {}
    if tracer.enabled:
        layers["dedup.exact_s"] = median(tracer.durations("dedup.exact_dedup"))
        layers["dedup.minhash_pairs_s"] = median(tracer.durations("dedup.minhash_lsh_pairs"))
        layers["dedup.clusters_s"] = median(tracer.durations("dedup.dup_clusters"))
        layers["dedup.cluster_jobs"] = 0.0  # filled from the event log
        layers["ann_index.build_s"] = median(tracer.durations("ann_index.build"))
        layers["ann_index.probe_s"] = median(tracer.durations("ann_index.probe"))
        layers["ann_index.candidates_per_query"] = float(np.mean(cand)) if cand else 0.0
        layers["ann_index.add_s"] = median(tracer.durations("ann_index.ivf_pq_index_add"))
        layers["ann_index.remove_s"] = median(tracer.durations("ann_index.ivf_pq_index_remove"))
        layers["staging.rewrite_s"] = median(tracer.durations("staging.rewrite"))
    return {
        "correct": bool(results) and not errors,
        "attempted": rounds * OPS_PER_ROUND,
        "failed": failed_rounds * OPS_PER_ROUND,
        "rounds": len(results),
        "timed_from": t_first, "timed_to": t_last,
        "metrics": {
            "setup_s": setup_s,
            "run_s": median(r["run_s"] for r in results),
            "latency_p50_s": median(s for r in results for s in r["probe_s"]),
            "cpu_s": median(r["cpu_s"] for r in results),
            "bytes_written": median(r["bytes"] for r in results),
        },
        "layers": layers,
    }


def _candidates(idx: str, batches) -> list[float]:
    """Rows in each query's n_probe nearest clusters, from the persisted
    centroids and the row counts of the codes partitions."""
    rows = {}
    for f in glob.glob(os.path.join(idx, "codes", "cluster=*", "*.parquet")):
        c = int(os.path.basename(os.path.dirname(f)).split("=")[1])
        rows[c] = rows.get(c, 0) + pq.ParquetFile(f).metadata.num_rows
    cent = pq.read_table(os.path.join(idx, "centroids")).to_pydict()
    order = np.argsort(cent["cluster"])
    centroids = np.array([cent["centroid"][i] for i in order])
    out = []
    for qs in batches:
        for _, _, v in qs:
            near = np.argsort(((centroids - v) ** 2).sum(axis=1))[:N_PROBE]
            out.append(float(sum(rows.get(int(c), 0) for c in near)))
    return out
