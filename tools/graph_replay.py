"""Shared numpy replay of the engine's round-synchronous graph search.

ONE implementation of `_graph_batch_search`'s traversal contract (warm
probe selection, rounded ADC grids, (distance, vec_id) tie-breaks,
frontier expansion, shortlist, rescore) used by BOTH measurement tools —
tools/ann_recall.py (fixture-scale operating points) and
tools/ann_scale_recall.py (N>=20K scale runs). A change to the engine's
traversal must be mirrored here exactly once; each tool's
replay-fidelity gate (live Spark search id-set == replay id-set) then
re-verifies the contract per run.
"""

from __future__ import annotations

import numpy as np

TOPK = 10


def export_index_arrays(index, n: int, ann):
    """Index-tuple DataFrames -> the dense replay arrays
    (adj, clusters, codes, cent_ids, cent). ONE copy of the
    tuple-layout-dependent export, shared by tools/ann_scale_recall.py
    and tools/ann_churn_scale.py so an index-layout change cannot
    silently break one tool's measurements while the other stays
    correct (r10 review finding)."""
    gep = index[0].orderBy("src", "pos").toPandas()
    adj: dict[int, list[int]] = {}
    for src, dst in zip(gep["src"].to_numpy(), gep["dst"].to_numpy()):
        adj.setdefault(int(src), []).append(int(dst))
    wrows = index[1].toPandas()
    clusters = np.zeros(n, dtype=int)
    clusters[wrows["vec_id"].to_numpy(dtype=int)] = (
        wrows["cluster"].to_numpy(dtype=int))
    gcp = index[3].toPandas()
    codes = np.zeros((n, ann.GRAPH_PQ_S), dtype=int)
    codes[gcp["vec_id"].to_numpy(dtype=int),
          gcp["s"].to_numpy(dtype=int)] = gcp["code"].to_numpy(dtype=int)
    cent_ids = np.array([cid for cid, _ in index[2]])
    cent = np.array([c for _, c in index[2]])
    return adj, clusters, codes, cent_ids, cent


def sq_dequant_matrix(unit: np.ndarray, ann) -> np.ndarray:
    """Replay of the engine's SQ8 rescore tier over a unit matrix:
    round-6 inputs, per-dimension [lo, hi]/SQ_LEVELS grid with the
    zero-width-guard — byte-identical to `_sq_cell_expr`/`_sq_deq_expr`.
    Shared by both scale tools (same dedup rationale as above)."""
    u6 = np.round(unit, 6)
    sq_lo, sq_hi = u6.min(axis=0), u6.max(axis=0)
    sq_step = (sq_hi - sq_lo) / ann.SQ_LEVELS
    sq_safe = np.where(sq_step > 0, sq_step, 1.0)
    sq_code = np.where(
        sq_step > 0,
        np.clip(np.floor((u6 - sq_lo) / sq_safe), 0, ann.SQ_LEVELS), 0)
    return sq_lo + (sq_code + 0.5) * sq_step


def make_graph_search(*, unit, books, codes, clusters, cent, cent_ids,
                      adj, vec_ids, ann):
    """Bind the index artifacts (numpy/dict forms of the Spark-built
    structures) and return the replay callable.

    graph_search(qi, rounds, short, rescore_mat=None, entry='warm',
                 beam=None, allowed=None, c=None)
      -> (top-10 id set, codes ADC'd, edge rows read)

    `rescore_mat` overrides the matrix the shortlist is scored against
    (unit = exact, SQ8-dequantized = compact). `entry='coarse'` is the
    hierarchical-entry experiment (uniform 1/16 sample start). `beam`
    overrides GRAPH_B and `c` overrides GRAPH_C (the engine's `beam`/`c`
    parameters — r11's build-derived per-round width). `allowed` (bool
    mask over vec_ids) applies at the SHORTLIST stage — the engine's
    filtered-DiskANN post-filter placement."""
    n = len(unit)

    def graph_search(qi: int, rounds: int, short: int,
                     rescore_mat: np.ndarray | None = None,
                     entry: str = "warm",
                     beam: int | None = None,
                     allowed: np.ndarray | None = None,
                     c: int | None = None):
        b_width = beam or ann.GRAPH_B
        c_width = c or ann.GRAPH_C
        q = unit[qi]
        lut = np.zeros((ann.GRAPH_PQ_S, ann.GRAPH_PQ_K), dtype=np.int64)
        for s in range(ann.GRAPH_PQ_S):
            qs = q[s * ann.GRAPH_PQ_SUBDIM:(s + 1) * ann.GRAPH_PQ_SUBDIM]
            for cid, c in books[s]:
                lut[s, cid] = np.rint(
                    round(float(((qs - np.array(c)) ** 2).sum()), 6) * 1e6)

        def adc(ids: np.ndarray) -> np.ndarray:
            return ann.adc_grid(lut, codes[ids])

        if entry == "coarse":
            starts = np.where(vec_ids % 16 == 0)[0]
        else:
            cd = np.round(((cent - q) ** 2).sum(axis=1), 6)
            probes = cent_ids[
                np.lexsort((cent_ids, cd))[:ann.GRAPH_WARM_PROBES]]
            starts = np.where(np.isin(clusters, probes))[0]
        starts = starts[starts != qi]
        evald = dict(zip(starts.tolist(), adc(starts).tolist()))
        expanded: set[int] = set()
        edge_rows = 0
        for _ in range(rounds):
            frontier = sorted(
                (i for i in evald if i not in expanded),
                key=lambda i: (evald[i], i))[:b_width]
            if not frontier:
                break
            new = set()
            for u_ in frontier:
                expanded.add(u_)
                nbrs = adj.get(u_, [])[:c_width]
                edge_rows += len(nbrs)
                for v_ in nbrs:
                    if v_ not in evald and v_ != qi:
                        new.add(v_)
            if new:
                nl = np.array(sorted(new))
                for v_, dv in zip(nl.tolist(), adc(nl).tolist()):
                    evald[v_] = dv
        ids = np.array(list(evald.keys()))
        dd = np.array([evald[int(i)] for i in ids])
        if allowed is not None:
            keep = allowed[ids]
            ids, dd = ids[keep], dd[keep]
        sh = ids[np.lexsort((ids, dd))[:short]]
        rmat = unit if rescore_mat is None else rescore_mat
        s2 = rmat[sh] @ q
        top = sh[np.lexsort((sh, -np.round(s2, 6)))[:TOPK]]
        return set(top.tolist()), len(evald), edge_rows

    return graph_search
