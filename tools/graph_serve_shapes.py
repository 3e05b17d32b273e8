"""Graph-ANN serving shapes: wall, Spark jobs and a row hash per shape.

One pass builds the sf0.1 session graph index, serves one untimed warmup
query, then times each serving shape below in a fixed order. The single
shapes call `_graph_rescore_from` once per anchor; the batch shapes call
`_graph_batch_search` once. Both names take the same arguments at every
commit since the batch core landed, so one pass can run against an older
tree.

    single_exact      5 anchors, low preset, exact rescore
    single_sq8        3 anchors, compact preset (SQ8 rescore tier)
    single_filtered   3 anchors, low preset, allow list label IN (1,2,3)
    batch_3 / batch_32 / batch_128 / batch_512
                      one batch of that many anchors, low preset
    batch_300_filtered
                      300 anchors with the allow list

With `--queries NAME,...` a pass times registered queries instead of the
serving shapes: it runs the list twice, in the order given. The first
round's `collect()`s (the first builds the session graph; per-session
caches such as the biconnectivity index fill) are recorded as `first_*`;
wall, Spark jobs and a row hash come from the second round, so every warm
run starts in an equally warmed-up JVM.

Usage:
    python tools/graph_serve_shapes.py [--root DIR] [--sf DIR]
        one pass, importing `neumann_spark` from DIR (default: this
        checkout); prints one JSON line
    python tools/graph_serve_shapes.py --ab BASE_REF [--pairs N]
        exports BASE_REF with `git archive` (as tools/bench_ab.py does)
        and runs N alternating base/working-tree pass pairs, each in a
        fresh process; writes GRAPH_SERVE_AB.json with per-shape walls,
        jobs, hashes and the head/base median ratio
    python tools/graph_serve_shapes.py --ab BASE_REF --queries NAME,...
        the same A/B over registered queries (e.g. at --sf .../sf0.01);
        writes GRAPH_LOOPS_AB.json
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ALLOW = (1, 2, 3)


def _shapes(ann, allowed):
    low, high = ann.GRAPH_T_LOW, ann.GRAPH_T_HIGH

    def single(anchors, rounds, **kw):
        def run(spark, sf, index):
            return [(a, r["vec_id"], r["score"])
                    for a in anchors
                    for r in ann._graph_rescore_from(
                        spark, sf, index, rounds, anchor=a, **kw).collect()]
        return run

    def batch(n, **kw):
        def run(spark, sf, index):
            return [tuple(r) for r in ann._graph_batch_search(
                spark, sf, tuple(range(n)), low, **kw).collect()]
        return run

    return {
        "single_exact": single((0, 11, 23, 42, 97), low),
        "single_sq8": single((0, 11, 23), high,
                             shortlist=ann.GRAPH_COMPACT_SHORTLIST,
                             sq_rescore=True),
        "single_filtered": single((0, 11, 23), low, allowed=allowed),
        "batch_3": batch(3),
        "batch_32": batch(32),
        "batch_128": batch(128),
        "batch_300_filtered": batch(300, allowed=allowed),
        "batch_512": batch(512),
    }


def one_pass(root: str, sf: str) -> dict:
    sys.path.insert(0, root)
    from pyspark.sql import functions as F

    import neumann_spark.pipeline.ann as ann
    from neumann_spark.catalog import load
    from neumann_spark.session import get_spark

    assert ann.__file__.startswith(root + os.sep), (ann.__file__, root)

    spark = get_spark("graph_serve_shapes")
    spark.sparkContext.setLogLevel("ERROR")
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    index = ann.knn_graph_index(spark, sf)
    allowed = load(spark, sf, "embeddings").filter(
        F.col("label").isin(*ALLOW)).select("vec_id")
    ann._graph_rescore_from(spark, sf, index, ann.GRAPH_T_LOW).collect()
    out = {}
    for name, run in _shapes(ann, allowed).items():
        jobs0, t0 = sched.nextJobId(), time.perf_counter()
        rows = run(spark, sf, index)
        wall = time.perf_counter() - t0
        out[name] = {"wall_s": round(wall, 3),
                     "jobs": sched.nextJobId() - jobs0,
                     "rows": len(rows), "hash": _digest(rows)}
    spark.stop()
    return out


def queries_pass(root: str, sf: str, names: list[str]) -> dict:
    sys.path.insert(0, root)
    import neumann_spark.registry as registry
    from neumann_spark.session import get_spark

    assert registry.__file__.startswith(root + os.sep), (registry.__file__, root)

    spark = get_spark("graph_loop_queries")
    spark.sparkContext.setLogLevel("ERROR")
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    queries = registry.all_queries()
    out = {}
    for name in names:
        jobs0, t0 = sched.nextJobId(), time.perf_counter()
        queries[name](spark, sf).collect()
        out[name] = {"first_wall_s": round(time.perf_counter() - t0, 3),
                     "first_jobs": sched.nextJobId() - jobs0}
    for name in names:
        jobs0, t0 = sched.nextJobId(), time.perf_counter()
        rows = [tuple(r) for r in queries[name](spark, sf).collect()]
        wall = time.perf_counter() - t0
        out[name].update(wall_s=round(wall, 3), jobs=sched.nextJobId() - jobs0,
                         rows=len(rows), hash=_digest(rows))
    spark.stop()
    return out


def _digest(rows: list) -> str:
    return hashlib.md5("\n".join(repr(r) for r in sorted(rows)).encode()).hexdigest()


def _git(*args: str) -> str:
    return subprocess.run(["git", *args], cwd=REPO, check=True,
                          capture_output=True, text=True).stdout.strip()


def _pass_in_child(root: str, sf: str, queries: str | None) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--root", root, "--sf", sf]
    if queries:
        cmd += ["--queries", queries]
    res = subprocess.run(cmd, capture_output=True, text=True)
    if res.returncode:
        raise RuntimeError(res.stderr[-2000:])
    return json.loads(res.stdout.strip().splitlines()[-1])


def ab(base_ref: str, pairs: int, sf: str, queries: str | None = None) -> dict:
    base_sha = _git("rev-parse", base_ref)
    head = _git("rev-parse", "HEAD")
    if _git("status", "--porcelain", "--untracked-files=no"):
        head += "+worktree"
    tmp = tempfile.mkdtemp(prefix="graph_serve_base_")
    try:
        archive = subprocess.run(["git", "archive", base_sha], cwd=REPO,
                                 check=True, capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", tmp], input=archive, check=True)
        runs = {"base": [], "head": []}
        for i in range(pairs):
            for side, root in (("base", tmp), ("head", REPO)):
                runs[side].append(_pass_in_child(root, sf, queries))
                print(f"pair {i + 1}/{pairs} {side} done", file=sys.stderr)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    shapes = {}
    for name in runs["head"][0]:
        row = {}
        for side in ("base", "head"):
            walls = [r[name]["wall_s"] for r in runs[side]]
            row[side] = {
                "wall_s": walls,
                "median_s": round(statistics.median(walls), 3),
                "jobs": sorted({r[name]["jobs"] for r in runs[side]}),
                "rows": runs[side][0][name]["rows"],
                "hashes": sorted({r[name]["hash"] for r in runs[side]}),
            }
            if queries:
                row[side]["first_median_s"] = round(statistics.median(
                    r[name]["first_wall_s"] for r in runs[side]), 3)
                row[side]["first_jobs"] = sorted(
                    {r[name]["first_jobs"] for r in runs[side]})
        row["same_rows"] = row["base"]["hashes"] == row["head"]["hashes"] \
            and len(row["head"]["hashes"]) == 1
        row["median_ratio"] = round(
            row["head"]["median_s"] / row["base"]["median_s"], 3)
        shapes[name] = row
    if queries:
        protocol = ("alternating base/head passes, one fresh process each; "
                    "the query list runs twice; wall and jobs are each "
                    "query's second (warm) collect(), first_* its first")
    else:
        protocol = ("alternating base/head passes, one fresh process each; "
                    "wall is the shape's whole run (all its anchors), warm "
                    "index")
    return {"base": base_sha, "head": head, "sf_dir": sf, "pairs": pairs,
            "cores": os.cpu_count(), "protocol": protocol,
            "queries" if queries else "shapes": shapes}


def _default_sf() -> str:
    sys.path.insert(0, REPO)
    from tests.conftest import SF_DIR

    return os.path.join(os.path.dirname(SF_DIR), "sf0.1")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--root", default=REPO,
                    help="tree to import neumann_spark from")
    ap.add_argument("--sf", default=_default_sf(),
                    help="fixture dir (default: the sf0.1 fixture beside "
                         "the tests' sf0.001 one)")
    ap.add_argument("--ab", metavar="BASE_REF",
                    help="run the alternating A/B against BASE_REF")
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--queries", metavar="NAME,...",
                    help="time these registered queries instead of the "
                         "serving shapes")
    args = ap.parse_args()
    if args.ab:
        doc = ab(args.ab, args.pairs, args.sf, args.queries)
        key, out = (("queries", "GRAPH_LOOPS_AB.json") if args.queries
                    else ("shapes", "GRAPH_SERVE_AB.json"))
        with open(os.path.join(REPO, out), "w") as f:
            json.dump(doc, f, indent=2)
        print(json.dumps({k: (v["same_rows"], v["median_ratio"])
                          for k, v in doc[key].items()}))
        return 0 if all(v["same_rows"] for v in doc[key].values()) else 1
    root = os.path.abspath(args.root)
    if args.queries:
        print(json.dumps(queries_pass(root, args.sf, args.queries.split(","))))
    else:
        print(json.dumps(one_pass(root, args.sf)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
