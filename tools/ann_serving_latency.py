"""Single-query serving LATENCY at scale — the VERDICT r10 frontier.

The r11 build-derived width law (`graph_build_caps`) exists to cut the
budget's SEQUENTIAL term: rounds are one Spark job each, so at a fixed
candidate budget the (rounds, beam, C) split is pure latency — recall is
measured flat in the split (ANN_RECALL.json `scale_runs` /
tools/ann_beam_calibration.py). This tool measures the claim LIVE on a
persisted scale index: wall-clock per single query through the exact
serving entry point users call (`graph_auto_search`, high-recall
preset), against the same query served at the r10 frozen-width law's
knobs (caps pinned to (C=16, beam<=32), rounds carrying the whole
N^0.85 budget) through the same `_graph_rescore_from` core.

Method: load the persisted index from <--dir>/ann_scale_<N>/index_wkauto
(built by tools/ann_scale_recall.py), one untimed warmup query per arm
(absorbs session/code-path warmup and the once-per-(index, corpus)
loaded-rescore validation), then `n_queries` timed single queries on
distinct anchors; report per-arm median and min. Also records the
derived knobs so the latency difference is attributable: same budget,
same recall band, different split.

Usage: python tools/ann_serving_latency.py [N ...] [--queries M] [--dir DIR]
Merges a `serving_latency` block into ANN_RECALL.json.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def measure(spark, ann, sf_dir: str, index, knobs, anchors, sq: bool):
    rounds, beam, c, shortlist = knobs
    walls = []
    for i, a in enumerate(anchors):
        t0 = time.time()
        rows = ann._graph_rescore_from(
            spark, sf_dir, index, rounds, shortlist=shortlist,
            sq_rescore=sq, beam=beam, c=c, anchor=int(a)).collect()
        dt = time.time() - t0
        assert rows, f"empty result at anchor {a}"
        if i:  # first query per arm is the untimed warmup
            walls.append(dt)
    return walls


def main() -> None:
    # flags parse FIRST (ADVICE r11: the old isdigit() sweep captured
    # the --queries VALUE into the corpus-size list), then positionals
    import argparse

    from tools.ann_scale_recall import SCALE_ROOT, scale_dir

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("ns", nargs="*", type=int, default=[65536],
                    metavar="N", help="corpus sizes (default 65536)")
    ap.add_argument("--queries", type=int, default=5,
                    help="timed queries per arm (default 5)")
    ap.add_argument("--auto-only", action="store_true",
                    help="measure only the shipped auto arm: the frozen"
                         "-r10 contrast arm serves ~budget/width rounds "
                         "as SEQUENTIAL Spark jobs per query (~90 at "
                         "131K, ~283 at 524K — hours), so large-N rows "
                         "record the shipped configuration's absolute "
                         "latency and leave the split contrast to the "
                         "65K row")
    ap.add_argument("--dir", default=SCALE_ROOT,
                    help="root of the scale corpora (default /tmp)")
    args = ap.parse_args()
    ns = args.ns or [65536]
    n_q = args.queries + 1  # +1: first query per arm is untimed warmup

    import neumann_spark.pipeline.ann as ann
    from neumann_spark.session import get_spark

    spark = get_spark("ann_serving_latency")
    results = []
    for n in ns:
        sf_dir = scale_dir(n, args.dir)
        idx_dir = os.path.join(sf_dir, "index_wkauto")
        if not os.path.exists(os.path.join(idx_dir, "graph_meta")):
            print(f"no persisted index at {idx_dir} — run "
                  f"tools/ann_scale_recall.py {n} first", file=sys.stderr)
            continue
        index = ann.load_graph_index(spark, idx_dir)
        meta = index[9]
        assert int(meta["n"]) == n, (meta, n)

        # r11 arm: the shipped serving law — caps from the build's meta
        auto = ann.graph_auto_budget(
            n, ann.GRAPH_T_HIGH, ann.GRAPH_B, ann.GRAPH_SHORTLIST,
            caps=ann._meta_caps(meta))
        # r10 arm: frozen per-round width (C=16, beam cap 32) — the same
        # N^0.85 budget spent almost entirely on sequential rounds
        frozen = ann.graph_auto_budget(
            n, ann.GRAPH_T_HIGH, ann.GRAPH_B, ann.GRAPH_SHORTLIST,
            caps=(ann.GRAPH_C, ann.GRAPH_BEAM_MAX))

        anchors = [int(i * (n - 1) / max(n_q - 1, 1)) for i in range(n_q)]
        # SQ8 rescore tier: self-contained (codes persisted with the
        # index), so the measurement is the traversal split itself, not
        # a corpus-revalidation artifact; recall parity of the two arms
        # at the compact/sq tier is the measured calibration result.
        w_auto = measure(spark, ann, sf_dir, index, auto, anchors, True)

        row = {
            "n_vectors": n,
            "preset": "high_recall (sq8 rescore tier)",
            "timed_queries": len(w_auto),
            "auto_r11": {
                "rounds": auto[0], "beam": auto[1], "c": auto[2],
                "shortlist": auto[3],
                "median_sec": round(statistics.median(w_auto), 2),
                "min_sec": round(min(w_auto), 2),
            },
        }
        if args.auto_only:
            row["note"] = (
                "auto arm only: the frozen-r10 contrast arm at this N "
                f"serves {frozen[0]} sequential Spark-job rounds per "
                "query; the 65K row carries the measured width-law "
                "split contrast")
        else:
            w_frozen = measure(
                spark, ann, sf_dir, index, frozen, anchors, True)
            row["frozen_r10"] = {
                "rounds": frozen[0], "beam": frozen[1], "c": frozen[2],
                "shortlist": frozen[3],
                "median_sec": round(statistics.median(w_frozen), 2),
                "min_sec": round(min(w_frozen), 2),
            }
            row["speedup_median"] = round(
                statistics.median(w_frozen) / statistics.median(w_auto), 2)
        results.append(row)
        print(json.dumps(row), file=sys.stderr)

    if not results:
        sys.exit(1)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "ANN_RECALL.json")
    with open(path) as f:
        doc = json.load(f)
    have = {r["n_vectors"] for r in results}
    kept = [r for r in doc.get("serving_latency", [])
            if r["n_vectors"] not in have]
    doc["serving_latency"] = sorted(
        kept + results, key=lambda r: r["n_vectors"])
    with open(path, "w") as f:
        json.dump(doc, f, indent=2)
    print(json.dumps(doc["serving_latency"], indent=2))


if __name__ == "__main__":
    main()
