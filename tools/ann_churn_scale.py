"""Churn drift at scale: 50% cumulative corpus churn on the N=20K index.

Closes the r9 residual ("sustained multi-pass steady state is still
extrapolated from the documented rebuild trigger" — VERDICT r9): the
fixture-scale churn pin (`test_graph_churn_drift_bounded`) now gets a
10x-scale measurement through the SAME registered maintenance paths:

1. Load the persisted N=20,000 index (built by tools/ann_scale_recall.py
   under <--dir>/ann_scale_20000/index_wkauto) and attach the corpus unit
   frame (the loaded tuple's element 5 is None by design).
2. Cycle FIVE disjoint 10% slices (vec_id % 10 == c) through
   knn_graph_delete -> knn_graph_insert — 50% cumulative churn, the
   documented rebuild trigger.
3. Then THREE more cycles of the SAME slice (hot-key steady state).
4. After each phase, verify the metadata contract (cardinality and XOR
   fingerprint restored exactly — the insert/delete folds are inverses)
   and measure recall@10 via the numpy replay (tools/graph_replay, the
   fidelity-gated contract from the scale runs) at the AUTO compact
   knobs the presets would serve with.
5. Merge a `churn_scale_runs` block into ANN_RECALL.json.

Usage: python tools/ann_churn_scale.py [N] [n_queries] [--dir DIR]
  (N defaults to 20000; the corpus+index must exist — run
   tools/ann_scale_recall.py N [--dir DIR] first.)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TOPK = 10


def main() -> None:
    from tools.ann_scale_recall import SCALE_ROOT, scale_dir

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("n", nargs="?", type=int, default=20000)
    ap.add_argument("n_q", nargs="?", type=int, default=40)
    ap.add_argument("--dir", default=SCALE_ROOT,
                    help="root of the scale corpora (default /tmp)")
    args = ap.parse_args()
    n, n_q = args.n, args.n_q
    sf_dir = scale_dir(n, args.dir)
    idx_dir = os.path.join(sf_dir, "index_wkauto")
    assert os.path.exists(os.path.join(idx_dir, "graph_meta")), (
        f"run tools/ann_scale_recall.py {n} first")

    import pyarrow.parquet as pq

    import neumann_spark.pipeline.ann as ann
    from neumann_spark.session import get_spark

    spark = get_spark("ann_churn_scale")
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    from pyspark.sql import functions as F

    loaded = ann.load_graph_index(spark, idx_dir)
    u = ann.unit_embeddings(emb).localCheckpoint(eager=True)
    index = loaded[:5] + (u,) + loaded[6:]
    meta0 = dict(index[9])
    assert meta0["n"] == n and meta0["fp"] is not None

    tbl = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    vecs = np.stack(tbl["embedding"].to_numpy(zero_copy_only=False)).astype(
        np.float64)
    unit = vecs / (np.linalg.norm(vecs, axis=1)[:, None] + 1e-12)
    from tools.graph_replay import sq_dequant_matrix

    sq_deq = sq_dequant_matrix(unit, ann)
    vec_ids = np.arange(n)
    rng_idx = np.linspace(0, n - 1, num=n_q, dtype=int)
    t_c, b_c, c_c, sh_c = ann.graph_auto_budget(
        n, ann.GRAPH_T_HIGH, ann.GRAPH_B, ann.GRAPH_COMPACT_SHORTLIST,
        caps=ann._meta_caps(meta0))

    from tools.graph_replay import export_index_arrays, make_graph_search

    def measure(idx) -> float:
        adj, clusters, codes, cent_ids, cent = export_index_arrays(
            idx, n, ann)
        gs = make_graph_search(
            unit=unit, books=idx[4], codes=codes, clusters=clusters,
            cent=cent, cent_ids=cent_ids, adj=adj, vec_ids=vec_ids,
            ann=ann)
        hits = []
        norms = np.linalg.norm(vecs, axis=1)
        for qi in rng_idx:
            q = vecs[qi]
            cos = (vecs @ q) / (norms * np.linalg.norm(q) + 1e-12)
            s = cos.copy()
            s[qi] = -np.inf
            gt = set(np.argsort(-s, kind="stable")[:TOPK].tolist())
            top, _, _ = gs(int(qi), t_c, sh_c, rescore_mat=sq_deq, beam=b_c,
                           c=c_c)
            hits.append(len(top & gt) / TOPK)
        return round(float(np.mean(hits)), 3)

    def cycle(idx, batch_df):
        shrunk = ann.knn_graph_delete(spark, idx, batch_df.select("vec_id"))
        return ann.knn_graph_insert(spark, shrunk, batch_df)

    t0 = time.time()
    churned = index
    for c in range(5):  # 5 disjoint 10% slices = 50% cumulative churn
        churned = cycle(churned, emb.filter(F.col("vec_id") % 10 == c))
        print(f"slice {c} cycled ({round(time.time() - t0, 1)}s)",
              file=sys.stderr, flush=True)
    assert churned[9]["n"] == meta0["n"], churned[9]
    assert churned[9]["fp"] == meta0["fp"], "fingerprint not restored"
    recall_50 = measure(churned)
    print(f"recall after 50% churn: {recall_50}", file=sys.stderr)

    hot = emb.filter(F.col("vec_id") % 10 == 0)
    for p in range(3):  # hot-key steady state: same slice, 3 more passes
        churned = cycle(churned, hot)
        print(f"hot pass {p} cycled ({round(time.time() - t0, 1)}s)",
              file=sys.stderr, flush=True)
    assert churned[9]["n"] == meta0["n"]
    assert churned[9]["fp"] == meta0["fp"]
    recall_hot = measure(churned)
    print(f"recall after +3 hot passes: {recall_hot}", file=sys.stderr)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "ANN_RECALL.json")
    with open(path) as f:
        doc = json.load(f)
    fresh = next(
        r["auto_presets"]["graph_rescore_compact"]["recall_at_10"]
        for r in doc["scale_runs"]
        if r["n_vectors"] == n and "auto_presets" in r)
    # drift bounds gate PUBLICATION: a failing run must not leave
    # out-of-band numbers in the artifact README/DESIGN cite as evidence
    assert recall_50 >= fresh - 0.1, (recall_50, fresh)
    assert recall_hot >= fresh - 0.1, (recall_hot, fresh)
    block = {
        "n_vectors": n,
        "n_queries": n_q,
        "auto_knobs": {"rounds": t_c, "beam": b_c, "c": c_c,
                       "shortlist": sh_c},
        "recall_fresh_auto_compact": fresh,
        "recall_after_50pct_churn": recall_50,
        "recall_after_3_hot_passes": recall_hot,
        "meta_fingerprint_restored": True,
        "churn_wall_s": round(time.time() - t0, 1),
    }
    runs = [r for r in doc.get("churn_scale_runs", [])
            if r["n_vectors"] != n]
    runs.append(block)
    doc["churn_scale_runs"] = sorted(runs, key=lambda r: r["n_vectors"])
    with open(path, "w") as f:
        json.dump(doc, f, indent=2)
    print(json.dumps(block))


if __name__ == "__main__":
    main()
