"""Calibrate the build-derived (beam cap, expansion C) law — VERDICT r10 #1.

The r10 auto budget spends the N^0.85 growth in ROUNDS past the frozen
beam cap 32 (each round = one sequential Spark job → ~490 rounds at
N=10^6). The fix is build-side: widen per-round work (beam × C) so
rounds grow ~log N. Before encoding the law, this tool measures —
on the PERSISTED 20K/65K scale indexes (tools/ann_scale_recall.py
corpora), replay-only, no rebuild — whether equal-budget wide
(beam, C) splits hold the measured recall of the r10 narrow splits:

  per-query candidate budget E = rounds × beam × C  (held constant),
  cells = the r10 shipped point (rounds≈E/(32·16), 32, 16) vs the
  log-rounds points the proposed derivation picks, e.g. (13, 64, 32)
  at 65K, plus neighbours to locate which lever (beam vs C) carries.

Usage: python tools/ann_beam_calibration.py [N] [n_queries] [--dir DIR]
Prints one JSON line per cell; does not write ANN_RECALL.json (the
final law re-measures through tools/ann_scale_recall.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TOPK = 10


def main() -> None:
    from tools.ann_scale_recall import SCALE_ROOT, scale_dir

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("n", nargs="?", type=int, default=65536)
    ap.add_argument("n_q", nargs="?", type=int, default=50)
    ap.add_argument("--dir", default=SCALE_ROOT,
                    help="root of the scale corpora (default /tmp)")
    args = ap.parse_args()
    n, n_q = args.n, args.n_q

    import neumann_spark.pipeline.ann as ann
    from neumann_spark.session import get_spark
    from tools.graph_replay import (export_index_arrays, make_graph_search,
                                    sq_dequant_matrix)

    sf_dir = scale_dir(n, args.dir)
    idx_dir = os.path.join(sf_dir, "index_wkauto")
    assert os.path.exists(os.path.join(idx_dir, "graph_meta")), idx_dir

    spark = get_spark("ann_beam_calibration")
    index = ann.load_graph_index(spark, idx_dir)
    books = index[4]
    adj, clusters, codes, cent_ids, cent = export_index_arrays(index, n, ann)

    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    vecs = np.stack(tbl["embedding"].to_numpy(zero_copy_only=False)).astype(
        np.float64)
    vec_ids = tbl["vec_id"].to_numpy()
    unit = vecs / (np.linalg.norm(vecs, axis=1)[:, None] + 1e-12)
    sq_deq = sq_dequant_matrix(unit, ann)

    graph_search = make_graph_search(
        unit=unit, books=books, codes=g_codes(codes), clusters=clusters,
        cent=cent, cent_ids=cent_ids, adj=adj, vec_ids=vec_ids, ann=ann)

    # equal-budget cells: E = rounds*beam*C constant per ladder row.
    # E65 = 49*32*16 = 25088 (the shipped 65K auto point);
    # E20 = 18*32*16 = 9216 (the shipped 20K auto point).
    cells = {
        65536: [
            (49, 32, 16),   # r10 shipped: measured 0.93 (sanity gate)
            (25, 32, 32),   # C carries the widening
            (13, 64, 32),   # proposed derivation pick
            (13, 128, 16),  # beam carries the widening
            (22, 64, 16),   # beam-only at ~0.9x budget
            (7, 128, 32),   # extreme log-rounds
        ],
        20000: [
            (18, 32, 16),   # r10 shipped: measured 0.94 (sanity gate)
            (18, 16, 32),   # proposed derivation pick
            (9, 32, 32),
            (9, 64, 16),
        ],
        131072: [
            (88, 32, 16),   # what r10 would derive
            (22, 64, 32),   # proposed derivation pick
            (11, 128, 32),
        ],
    }[n]

    norms = np.linalg.norm(vecs, axis=1)
    rng_idx = np.linspace(0, n - 1, num=min(n_q, n), dtype=int)
    gts = {}
    for qi in rng_idx:
        q = vecs[qi]
        cos = (vecs @ q) / (norms * np.linalg.norm(q) + 1e-12)
        s = cos.copy()
        s[qi] = -np.inf
        gts[qi] = set(np.argsort(-s, kind="stable")[:TOPK].tolist())

    for rounds, beam, c in cells:
        hit, code_f = [], []
        for qi in rng_idx:
            top, n_eval, _ = graph_search(
                int(qi), rounds, 300, rescore_mat=sq_deq, beam=beam, c=c)
            hit.append(len(top & gts[qi]) / TOPK)
            code_f.append(n_eval / n)
        print(json.dumps({
            "n": n, "rounds": rounds, "beam": beam, "c": c,
            "budget": rounds * beam * c,
            "recall_at_10": round(float(np.mean(hit)), 3),
            "avg_code_scan_fraction": round(float(np.mean(code_f)), 4),
        }), flush=True)


def g_codes(codes):
    return codes


if __name__ == "__main__":
    main()
