"""Recall-at-scale for the graph-ANN presets + filtered-search placement.

VERDICT r8 items 1-2: every ANN_RECALL.json number rests on the 2K driver
fixture; the 100 TB story was extrapolated. This tool measures it:

1. Generates a deterministic synthetic corpus (seeded isotropic unit
   Gaussians, the SAME distribution as the driver fixture: 64d, unit
   norm, labels 0..9) at N >= 20K, as parquet.
2. Builds the kNN-graph index through the REGISTERED Spark build path
   (`knn_graph_index` -> NN-descent), optionally with the documented
   grow-K policy (GRAPH_WARM_K ~ sqrt(N)) applied at build time.
3. Replays the round-synchronous search in numpy (same replay contract
   as tools/ann_recall.py), validated against ONE live Spark search so
   the replay cannot silently drift from the engine.
4. Measures the three presets' recall@10 + byte-normalized read
   fractions, a rounds x shortlist knee sweep for the compact preset,
   and filtered (allow-list) recall at ~10% and ~1% selectivity through
   the post-filter strategy — the measurement that places the
   auto-dispatch cutoff (`filtered_search_strategy`).
5. Merges one block into ANN_RECALL.json under "scale_runs".

Round 10: the build derives warm-K from N itself (`graph_auto_warm_k`,
the shipped sqrt policy) and the presets derive (rounds, beam,
shortlist) from the index's stored cardinality (`graph_auto_budget`) —
this tool now measures the AUTO presets (no per-run overrides: the same
registered preset names a user calls) alongside the frozen-knob
baselines, plus filtered post-recall at the auto budget (the dispatch's
post branch). The built index is persisted under the corpus dir and
reloaded on re-runs, which also exercises save/load at scale.

Usage: python tools/ann_scale_recall.py [N] [n_queries] [warm_k] [--dir DIR]
  N          corpus size (default 20000)
  n_queries  query anchors, evenly spaced (default 100)
  warm_k     0 = auto (graph_auto_warm_k(N), the shipped policy);
             otherwise a build-time override for contrast runs.
  --dir DIR  where the corpus and its persisted indexes live, as
             DIR/ann_scale_<N> (default /tmp); the other scale tools
             take the same flag.
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
SEED = 42
DIMS = 64
SCALE_ROOT = "/tmp"


def scale_dir(n: int, root: str = SCALE_ROOT) -> str:
    """The size-`n` scale corpus and its persisted indexes."""
    return os.path.join(root, f"ann_scale_{n}")


def gen_corpus(n: int, root: str = SCALE_ROOT) -> str:
    """Write the deterministic synthetic corpus parquet; return its dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = scale_dir(n, root)
    path = os.path.join(d, "embeddings.parquet")
    if os.path.exists(path):
        return d
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng(SEED)
    x = rng.standard_normal((n, DIMS))
    x /= np.linalg.norm(x, axis=1)[:, None]
    x = x.astype(np.float32)
    labels = rng.integers(0, 10, n).astype(np.int32)
    tbl = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    # small row groups are load-bearing for build parallelism: parquet
    # parallelizes by ROW GROUP, so the pyarrow default (one group for
    # the whole table) makes every Spark scan stage effectively
    # single-task regardless of split count — measured at N=131K, the
    # Lloyd/NN-descent scan stages ran (8+1)/9 with one straggler doing
    # all the work. 8K rows ≈ 2 MB groups → 16 groups at 131K.
    pq.write_table(tbl, path, row_group_size=8192)
    return d


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("n", nargs="?", type=int, default=20000)
    ap.add_argument("n_q", nargs="?", type=int, default=100)
    ap.add_argument("warm_k", nargs="?", type=int, default=0)
    ap.add_argument("--dir", default=SCALE_ROOT)
    args = ap.parse_args()
    n, n_q, warm_k = args.n, args.n_q, args.warm_k

    sf_dir = gen_corpus(n, args.dir)

    import neumann_spark.pipeline.ann as ann
    from neumann_spark.session import get_spark

    if warm_k:
        # contrast-run override: replace the auto policy outright so the
        # build uses EXACTLY this K (pinning only the GRAPH_WARM_K floor
        # would silently ignore overrides below sqrt(N) and mislabel an
        # auto build as a contrast run)
        ann.graph_auto_warm_k = lambda _n: warm_k
    spark = get_spark("ann_scale_recall")

    idx_dir = os.path.join(sf_dir, f"index_wk{warm_k or 'auto'}")
    t0 = time.time()
    if os.path.exists(os.path.join(idx_dir, "graph_meta")):
        index = ann.load_graph_index(spark, idx_dir)
        build_sec = None
        print(f"index reloaded from {idx_dir} in "
              f"{round(time.time() - t0, 1)}s", file=sys.stderr)
    else:
        index = ann.knn_graph_index(spark, sf_dir)
        build_sec = round(time.time() - t0, 1)
        ann.save_graph_index_frames(spark, index, idx_dir)
        print(f"index built in {build_sec}s (N={n}, "
              f"warm_k={index[9]['warm_k']})", file=sys.stderr)
    meta = index[9]
    assert meta["n"] == n, (meta, n)
    eff_warm_k = int(meta["warm_k"])

    books = index[4]
    from tools.graph_replay import export_index_arrays

    g_adj, g_clusters, g_codes, g_cent_ids, g_cent = export_index_arrays(
        index, n, ann)

    # vectors: read back the generated parquet (float32 -> float64, unit)
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    vecs = np.stack(tbl["embedding"].to_numpy(zero_copy_only=False)).astype(
        np.float64)
    labels = tbl["label"].to_numpy()
    vec_ids = tbl["vec_id"].to_numpy()
    assert (vec_ids == np.arange(n)).all()
    unit = vecs / (np.linalg.norm(vecs, axis=1)[:, None] + 1e-12)

    # SQ8 rescore tier, replaying the build grid exactly (round-6 inputs)
    from tools.graph_replay import sq_dequant_matrix

    sq_deq = sq_dequant_matrix(unit, ann)

    from tools.graph_replay import make_graph_search

    graph_search = make_graph_search(
        unit=unit, books=books, codes=g_codes, clusters=g_clusters,
        cent=g_cent, cent_ids=g_cent_ids, adj=g_adj, vec_ids=vec_ids,
        ann=ann)

    # replay-fidelity gate: the live Spark compact search for anchor 0
    # must return exactly the replay's ids (same structures, same math)
    live = {int(r["vec_id"]) for r in ann._graph_rescore_from(
        spark, sf_dir, index, ann.GRAPH_T_HIGH,
        shortlist=ann.GRAPH_COMPACT_SHORTLIST, sq_rescore=True).collect()}
    rep, _, _ = graph_search(0, ann.GRAPH_T_HIGH,
                             ann.GRAPH_COMPACT_SHORTLIST, rescore_mat=sq_deq)
    assert live == rep, f"replay drift: live={sorted(live)} rep={sorted(rep)}"
    live16 = {int(r["vec_id"]) for r in ann._graph_rescore_from(
        spark, sf_dir, index, ann.GRAPH_T_LOW,
        shortlist=ann.GRAPH_COMPACT_SHORTLIST, sq_rescore=True,
        beam=16).collect()}
    rep16, _, _ = graph_search(0, ann.GRAPH_T_LOW,
                               ann.GRAPH_COMPACT_SHORTLIST,
                               rescore_mat=sq_deq, beam=16)
    assert live16 == rep16, "replay drift at beam=16"
    # auto-path gate: the REGISTERED auto-budget serving call (what a
    # user gets from ann_graph_rescore_compact) must equal the replay
    # at the knobs graph_auto_budget derives from the stored cardinality
    t_c, b_c, c_c, sh_c = ann.graph_auto_budget(
        meta["n"], ann.GRAPH_T_HIGH, ann.GRAPH_B,
        ann.GRAPH_COMPACT_SHORTLIST, caps=ann._meta_caps(meta))
    live_auto = {int(r["vec_id"]) for r in ann.graph_auto_search(
        spark, sf_dir, index, preset="compact").collect()}
    rep_auto, _, _ = graph_search(0, t_c, sh_c, rescore_mat=sq_deq,
                                  beam=b_c, c=c_c)
    assert live_auto == rep_auto, "replay drift on the auto path"
    print("replay fidelity: live Spark search == numpy replay "
          "(default, beam=16, and auto-budget paths)", file=sys.stderr)

    norms = np.linalg.norm(vecs, axis=1)
    rng_idx = np.linspace(0, n - 1, num=min(n_q, n), dtype=int)

    presets = {
        "graph_rescore": (ann.GRAPH_T_LOW, ann.GRAPH_SHORTLIST, None),
        "graph_rescore_high_recall": (
            ann.GRAPH_T_HIGH, ann.GRAPH_SHORTLIST, None),
        "graph_rescore_compact": (
            ann.GRAPH_T_HIGH, ann.GRAPH_COMPACT_SHORTLIST, sq_deq),
    }
    hits = {m: [] for m in presets}
    code_f = {m: [] for m in presets}
    edge_f = {m: [] for m in presets}
    scan_f = {m: [] for m in presets}

    # AUTO presets (r10): (rounds, beam, shortlist) derived from the
    # index's stored cardinality — exactly what the registered
    # ann_graph_rescore* queries serve with, no per-run overrides
    auto_knobs = {
        m: ann.graph_auto_budget(meta["n"], rb, ann.GRAPH_B, sb,
                                 caps=ann._meta_caps(meta))
        for m, (rb, sb, _) in presets.items()
    }
    auto_hits = {m: [] for m in presets}
    auto_code = {m: [] for m in presets}
    auto_edge = {m: [] for m in presets}
    auto_scan = {m: [] for m in presets}

    # knee sweep over the two budget knobs (rounds, beam) at the compact
    # shortlist — the levers that restore the operating point at scale
    SWEEP_T = (10, 18, 32, 48)
    SWEEP_B = (8, 16, 32)
    SWEEP_SHORT = 300
    sweep = {(t, b): {"hit": [], "code": [], "edge": []}
             for t in SWEEP_T for b in SWEEP_B}

    # filtered post-filter recall at two selectivities (the dispatch
    # placement measurement): ~10% (one label) and ~1% (vec_id % 100)
    filt = {"0.10": {"hit": [], "sel": []}, "0.01": {"hit": [], "sel": []}}
    # same measurement at the AUTO budget of the HIGH-RECALL preset —
    # the knobs the dispatch's post branch actually serves with
    # (filtered_search_auto routes post-filter traffic through
    # graph_auto_search preset='high_recall'; r10 measured placement)
    filt_auto = {"0.10": {"hit": [], "sel": []},
                 "0.01": {"hit": [], "sel": []}}

    for qi in rng_idx:
        q = vecs[qi]
        cos = (vecs @ q) / (norms * np.linalg.norm(q) + 1e-12)
        s = cos.copy()
        s[qi] = -np.inf
        gt = set(np.argsort(-s, kind="stable")[:TOPK].tolist())

        for m, (t, sh, rmat) in presets.items():
            top, n_eval, n_edge = graph_search(qi, t, sh, rescore_mat=rmat)
            hits[m].append(len(top & gt) / TOPK)
            code_f[m].append(n_eval / n)
            edge_f[m].append(n_edge / n)
            scan_f[m].append(min(sh, n_eval) / n)
            t_a, b_a, c_a, sh_a = auto_knobs[m]
            top, n_eval, n_edge = graph_search(
                qi, t_a, sh_a, rescore_mat=rmat, beam=b_a, c=c_a)
            auto_hits[m].append(len(top & gt) / TOPK)
            auto_code[m].append(n_eval / n)
            auto_edge[m].append(n_edge / n)
            auto_scan[m].append(min(sh_a, n_eval) / n)

        for (t, b), cell in sweep.items():
            top, n_eval, n_edge = graph_search(
                qi, t, SWEEP_SHORT, rescore_mat=sq_deq, beam=b)
            cell["hit"].append(len(top & gt) / TOPK)
            cell["code"].append(n_eval / n)
            cell["edge"].append(n_edge / n)

        for key, mask in (
            ("0.10", labels == (int(qi) % 10)),
            ("0.01", (vec_ids % 100) == (int(qi) % 100)),
        ):
            allowed = mask.copy()
            allowed[qi] = False
            if not allowed.any():
                continue
            aidx = np.where(allowed)[0]
            agt = set(aidx[np.argsort(-cos[aidx], kind="stable")
                           [:TOPK]].tolist())
            top, _, _ = graph_search(
                qi, ann.GRAPH_T_HIGH, ann.GRAPH_COMPACT_SHORTLIST,
                rescore_mat=None, allowed=allowed)
            k_eff = min(TOPK, len(aidx))
            filt[key]["hit"].append(len(top & agt) / k_eff)
            filt[key]["sel"].append(len(aidx) / n)
            t_h, b_h, c_h, sh_h = auto_knobs["graph_rescore_high_recall"]
            top_a, _, _ = graph_search(
                qi, t_h, sh_h, rescore_mat=None, allowed=allowed,
                beam=b_h, c=c_h)
            filt_auto[key]["hit"].append(len(top_a & agt) / k_eff)
            filt_auto[key]["sel"].append(len(aidx) / n)

    def vec_equiv(m: str) -> float:
        scan_bytes = 64.0 if m == "graph_rescore_compact" else 512.0
        return round(
            float(np.mean(scan_f[m])) * scan_bytes / 512.0
            + float(np.mean(code_f[m])) * 32.0 / 512.0
            + float(np.mean(edge_f[m])) * 16.0 / 512.0, 4)

    def vec_equiv_auto(m: str) -> float:
        scan_bytes = 64.0 if m == "graph_rescore_compact" else 512.0
        return round(
            float(np.mean(auto_scan[m])) * scan_bytes / 512.0
            + float(np.mean(auto_code[m])) * 32.0 / 512.0
            + float(np.mean(auto_edge[m])) * 16.0 / 512.0, 4)

    block = {
        "n_vectors": n,
        "n_queries": int(len(rng_idx)),
        "warm_k": eff_warm_k,
        "warm_k_policy": ("auto" if not warm_k else "override"),
        "build_sec": build_sec,
        "recall_at_10": {
            m: round(float(np.mean(h)), 3) for m, h in hits.items()},
        "vec_equiv_read_fraction": {m: vec_equiv(m) for m in presets},
        "avg_code_scan_fraction": {
            m: round(float(np.mean(c)), 4) for m, c in code_f.items()},
        # the registered preset names under the r10 auto budget — the
        # headline: same names, any N, recall held (frozen-knob rows
        # above show the decay the auto budget repairs)
        "auto_presets": {
            m: {
                "rounds": auto_knobs[m][0],
                "beam": auto_knobs[m][1],
                "c": auto_knobs[m][2],
                "shortlist": auto_knobs[m][3],
                "recall_at_10": round(float(np.mean(auto_hits[m])), 3),
                "vec_equiv_read_fraction": vec_equiv_auto(m),
                "avg_code_scan_fraction": round(
                    float(np.mean(auto_code[m])), 4),
            }
            for m in presets
        },
        "compact_sweep": [
            {
                "rounds": t, "beam": b, "shortlist": SWEEP_SHORT,
                "recall_at_10": round(float(np.mean(c["hit"])), 3),
                "vec_equiv_read_fraction": round(
                    float(np.mean(
                        [min(SWEEP_SHORT / n, cf) for cf in c["code"]]))
                    * 64.0 / 512.0
                    + float(np.mean(c["code"])) * 32.0 / 512.0
                    + float(np.mean(c["edge"])) * 16.0 / 512.0, 4),
            }
            for (t, b), c in sorted(sweep.items())
        ],
        # post-filter (index-served, filter at shortlist) recall by
        # selectivity; the pre-filter path is exact by construction at
        # cost = selectivity full-precision rows, so the dispatch cutoff
        # is where post-filter recall degrades below the presets' band
        "filtered_post_recall": {
            key: {
                "recall_at_10": round(float(np.mean(d["hit"])), 3)
                if d["hit"] else None,
                "avg_selectivity": round(float(np.mean(d["sel"])), 4)
                if d["sel"] else None,
                "n_queries": len(d["hit"]),
            }
            for key, d in filt.items()
        },
        # post-filter recall at the budget the dispatch actually serves
        # (auto LOW preset) — the measurement that places/validates the
        # 10% pre/post cutoff at scale (VERDICT r9 item 4)
        "filtered_post_recall_auto": {
            key: {
                "recall_at_10": round(float(np.mean(d["hit"])), 3)
                if d["hit"] else None,
                "avg_selectivity": round(float(np.mean(d["sel"])), 4)
                if d["sel"] else None,
                "n_queries": len(d["hit"]),
            }
            for key, d in filt_auto.items()
        },
    }

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "ANN_RECALL.json")
    with open(path) as f:
        doc = json.load(f)
    # a reload run re-measures SERVING (recall, fractions, knobs) on the
    # same persisted artifact — its build cost is a property of that
    # artifact, so carry the prior fresh-build number forward instead of
    # nulling the ladder point every time a serving law is re-measured
    if block["build_sec"] is None:
        for r in doc.get("scale_runs", []):
            if (r["n_vectors"] == n and r["warm_k"] == block["warm_k"]
                    and r.get("build_sec") is not None):
                block["build_sec"] = r["build_sec"]
                print(f"build_sec {r['build_sec']} carried from the "
                      "prior fresh build of this persisted index",
                      file=sys.stderr)
    runs = [r for r in doc.get("scale_runs", [])
            if not (r["n_vectors"] == n
                    and r["warm_k"] == block["warm_k"])]
    runs.append(block)
    doc["scale_runs"] = sorted(
        runs, key=lambda r: (r["n_vectors"], r["warm_k"]))
    with open(path, "w") as f:
        json.dump(doc, f, indent=2)
    print(json.dumps(block))


if __name__ == "__main__":
    main()
