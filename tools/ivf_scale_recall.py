"""IVF-PQ preset recall at N >= 20K — the scale CONTRAST to the graph index.

The graph presets read a constant ABSOLUTE budget (rounds×beam×C rows),
so their corpus fraction falls with N and recall must be restored by
raising the budget (tools/ann_scale_recall.py). The IVF-PQ presets read
a constant FRACTION (nprobe/k of the code rows) plus a fixed shortlist
of floats — so at 10× corpus their code-scan cost grows 10× in rows
while the fixed ADC shortlist becomes a 10× smaller fraction of the
candidates, which stresses the coarse ADC's ranking precision instead.
This tool measures which effect wins, on the same deterministic
synthetic corpus, with the same replay discipline as tools/ann_recall.py
(Spark-built artifacts, rounded grids, (distance, vec_id) tie-breaks).

Usage: python tools/ivf_scale_recall.py [N] [n_queries] [--dir DIR]
Merges one block into ANN_RECALL.json under "scale_ivf_runs".
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
    from tools.ann_scale_recall import SCALE_ROOT, gen_corpus

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("n", nargs="?", type=int, default=20000)
    ap.add_argument("n_q", nargs="?", type=int, default=100)
    ap.add_argument("--dir", default=SCALE_ROOT,
                    help="root of the scale corpora (default /tmp)")
    args = ap.parse_args()
    n, n_q = args.n, args.n_q

    sf_dir = gen_corpus(n, args.dir)

    from pyspark.sql import functions as F

    import neumann_spark.pipeline.ann as ann
    from neumann_spark.session import get_spark

    spark = get_spark("ivf_scale_recall")
    state, centroids = ann.ivf_index(spark, sf_dir)
    codes_df, codebooks = ann.pq_index(spark, sf_dir)
    fine_codes_df, fine_codebooks = ann.pq_fine_index(spark, sf_dir)

    art = (
        state.select("vec_id", "cluster")
        .join(codes_df, "vec_id")
        .join(
            fine_codes_df.select(
                "vec_id",
                *[F.col(f"code_{s}").alias(f"fcode_{s}")
                  for s in range(ann.PQ_FINE_S)],
            ),
            "vec_id",
        )
        .orderBy("vec_id")
        .toPandas()
    )

    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    vecs = np.stack(tbl["embedding"].to_numpy(zero_copy_only=False)).astype(
        np.float64)
    vec_ids = tbl["vec_id"].to_numpy()
    assert (art["vec_id"].to_numpy() == vec_ids).all()
    clusters = art["cluster"].to_numpy()
    codes = np.stack(
        [art[f"code_{s}"].to_numpy() for s in range(ann.PQ_S)], axis=1)
    fine_codes = np.stack(
        [art[f"fcode_{s}"].to_numpy() for s in range(ann.PQ_FINE_S)], axis=1)
    cent = np.array([c for _, c in centroids])
    cent_ids = np.array([cid for cid, _ in centroids])
    norms = np.linalg.norm(vecs, axis=1)


    def adc_table(q, books, S, subdim, code_mat):
        d = np.zeros(n)
        for s in range(S):
            qs = q[s * subdim:(s + 1) * subdim]
            lut = np.full(max(cid for cid, _ in books[s]) + 1, np.inf)
            for cid, c in books[s]:
                lut[cid] = round(float(((qs - np.array(c)) ** 2).sum()), 6)
            d += lut[code_mat[:, s]]
        return np.round(d, 6)

    presets = {
        "ivfpq_rescore": (
            ann.ANN_RESCORE_NPROBE, ann.ANN_RESCORE_SHORTLIST, "coarse"),
        "ivfpq_rescore_high_recall": (
            ann.ANN_HIGH_RECALL_NPROBE, ann.ANN_HIGH_RECALL_SHORTLIST,
            "coarse"),
        # the frozen-knob contrast row (the decay the auto shortlist
        # repairs) — the REGISTERED preset serves the auto row below
        "ivfpq_rescore_low_scan": (
            ann.ANN_LOW_SCAN_NPROBE, ann.ANN_LOW_SCAN_SHORTLIST, "fine"),
        # r11: the registered low_scan preset's cardinality-derived
        # shortlist (∝N — an explicit O(N) rescore, the family's honest
        # restoration cost; VERDICT r10 item 7)
        "ivfpq_rescore_low_scan_auto": (
            ann.ANN_LOW_SCAN_NPROBE, ann.ivfpq_auto_shortlist(n), "fine"),
    }
    hits = {m: [] for m in presets}
    scan_f = {m: [] for m in presets}
    code_f = {m: [] for m in presets}

    def rescore_replay(qi, nprobe, short, r_adc, cos, cd):
        probe = cent_ids[np.lexsort((cent_ids, cd))[:nprobe]]
        cand = np.where(np.isin(clusters, probe))[0]
        cand = cand[cand != qi]
        order = cand[np.lexsort((vec_ids[cand], r_adc[cand]))]
        sh = order[:short]
        # exact-rescore tie-break = the engine's (round6 score DESC,
        # vec_id), not ADC order (_ivfpq_rescore_search orderBy)
        top = sh[np.lexsort((sh, -np.round(cos[sh], 6)))][:TOPK]
        return top, sh, cand

    # replay-fidelity gate, UP-FRONT (fail fast, same discipline as
    # ann_scale_recall.py): the live registered two-stage search for
    # anchor 0 must return exactly the replay's ids
    live = {int(r["vec_id"])
            for r in ann.ann_ivfpq_rescore(spark, sf_dir).collect()}
    q0 = vecs[0]
    cos0 = (vecs @ q0) / (norms * np.linalg.norm(q0) + 1e-12)
    cd0 = np.round(((cent - q0) ** 2).sum(axis=1), 6)
    adc0 = adc_table(q0, codebooks, ann.PQ_S, ann.PQ_SUBDIM, codes)
    top0, _, _ = rescore_replay(0, ann.ANN_RESCORE_NPROBE,
                                ann.ANN_RESCORE_SHORTLIST, adc0, cos0, cd0)
    assert set(top0.tolist()) == live, (
        f"replay drift: live={sorted(live)} rep={sorted(top0.tolist())}")
    print("replay fidelity: live Spark ivfpq_rescore == numpy replay",
          file=sys.stderr)

    rng_idx = np.linspace(0, n - 1, num=min(n_q, n), dtype=int)
    for qi in rng_idx:
        q = vecs[qi]
        cos = (vecs @ q) / (norms * np.linalg.norm(q) + 1e-12)
        s = cos.copy()
        s[qi] = -np.inf
        gt = set(np.argsort(-s, kind="stable")[:TOPK].tolist())

        cd = np.round(((cent - q) ** 2).sum(axis=1), 6)
        adc_c = adc_table(q, codebooks, ann.PQ_S, ann.PQ_SUBDIM, codes)
        adc_f = adc_table(q, fine_codebooks, ann.PQ_FINE_S,
                          ann.PQ_FINE_SUBDIM, fine_codes)
        for m, (nprobe, short, kind) in presets.items():
            r_adc = adc_c if kind == "coarse" else adc_f
            top, sh, cand = rescore_replay(qi, nprobe, short, r_adc,
                                           cos, cd)
            hits[m].append(len(set(top.tolist()) & gt) / TOPK)
            scan_f[m].append(len(sh) / n)
            code_f[m].append(len(cand) / n)

    code_bytes = {"ivfpq_rescore": 8, "ivfpq_rescore_high_recall": 8,
                  "ivfpq_rescore_low_scan": 16,
                  "ivfpq_rescore_low_scan_auto": 16}
    block = {
        "n_vectors": n,
        "n_queries": int(len(rng_idx)),
        "recall_at_10": {
            m: round(float(np.mean(h)), 3) for m, h in hits.items()},
        "avg_scan_fraction": {
            m: round(float(np.mean(v)), 4) for m, v in scan_f.items()},
        "avg_code_scan_fraction": {
            m: round(float(np.mean(v)), 4) for m, v in code_f.items()},
        "vec_equiv_read_fraction": {
            m: round(float(np.mean(scan_f[m]))
                     + float(np.mean(code_f[m])) * code_bytes[m] / 512.0, 4)
            for m in presets},
    }
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "ANN_RECALL.json")
    with open(path) as f:
        doc = json.load(f)
    runs = [r for r in doc.get("scale_ivf_runs", [])
            if r["n_vectors"] != n]
    runs.append(block)
    doc["scale_ivf_runs"] = sorted(runs, key=lambda r: r["n_vectors"])
    with open(path, "w") as f:
        json.dump(doc, f, indent=2)
    print(json.dumps(block))


if __name__ == "__main__":
    main()
