"""A/B benchmark protocol: HEAD vs a base git ref, same session, interleaved.

Single bench runs on this box swing ±20-50% with machine state (documented
in BENCH notes since r4), so round-over-round comparisons from one-shot
numbers routinely read as phantom regressions (r5's driver number did).
This tool is the repo's answer: it exports the base ref into a
throwaway directory (`git archive` under $TMPDIR), runs `python bench.py`
ALTERNATELY in the same session so both sides sample the same machine
state — base first in odd pairs, HEAD first in even ones (B A, A B, ...),
so neither side always runs in the other's wake — keeps the per-query
MINIMUM across runs (the least-noise estimator for a throughput-bound
suite), and writes BENCH_AB.json with per-query deltas. The HEAD side is the working tree;
its recorded ref gets a `+worktree` suffix when tracked files differ
from HEAD.

Usage: python tools/bench_ab.py [base_ref] [runs_per_side]
  base_ref defaults to the most recent driver round-commit
  (message 'round N: ...'); runs_per_side defaults to 3 (at 2, a
  ±40% single-layout swing was indistinguishable from noise).

Read %delta with the noise floor in mind: |delta| under ~15% is machine
noise, not signal.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cmd: list[str], cwd: str = REPO, check: bool = True) -> str:
    res = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)
    if check and res.returncode != 0:
        raise RuntimeError(f"{cmd}: {res.stderr[-500:]}")
    return res.stdout


def _bench_once(cwd: str) -> dict:
    out = _run([sys.executable, "bench.py"], cwd=cwd)
    for line in reversed(out.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"no JSON line from bench.py in {cwd}")


def main() -> int:
    base_ref = sys.argv[1] if len(sys.argv) > 1 else _run(
        ["git", "log", "--grep", "^round ", "-1", "--format=%H"]).strip()
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    if not base_ref:
        print("no base ref found", file=sys.stderr)
        return 1
    head = _run(["git", "rev-parse", "HEAD"]).strip()
    if _run(["git", "status", "--porcelain", "--untracked-files=no"]).strip():
        head += "+worktree"  # HEAD side runs the uncommitted working tree
    wt = tempfile.mkdtemp(prefix=f"neumann_ab_{base_ref[:12]}_")
    try:
        subprocess.run(f"git archive {base_ref} | tar -x -C {wt}", shell=True,
                       cwd=REPO, check=True)
        sides = {"base": (wt, []), "HEAD": (REPO, [])}
        for i in range(runs):
            for side in (("base", "HEAD") if i % 2 == 0 else ("HEAD", "base")):
                print(f"run {i + 1}/{runs}: {side} ...", file=sys.stderr, flush=True)
                cwd, series = sides[side]
                series.append(_bench_once(cwd))
        head_runs, base_runs = sides["HEAD"][1], sides["base"][1]
    finally:
        shutil.rmtree(wt, ignore_errors=True)

    def layout_series(r: dict, kind: str) -> dict:
        """Extract one LAYOUT-CONSISTENT series from a bench JSON. Since
        round 7 `queries` is the multilayout series and the raw-fixture
        series ships as `queries_singlelayout`; before round 7 `queries`
        was single-layout and `queries_multilayout` the secondary.
        Comparing across that flip on the raw `queries` key would be
        apples-to-oranges."""
        new_format = "queries_singlelayout" in r
        if kind == "single":
            return r["queries_singlelayout"] if new_format else r["queries"]
        return r["queries"] if new_format else r.get("queries_multilayout", {})

    def best(series: list[dict], kind: str) -> dict[str, float]:
        out: dict[str, float] = {}
        for r in series:
            for q, t in layout_series(r, kind).items():
                if isinstance(t, (int, float)):
                    out[q] = min(out.get(q, float("inf")), float(t))
        return out

    result = {
        "metric": "bench_ab",
        "head": head,
        "base": base_ref,
        "runs_per_side": runs,
        "order": "base first in odd pairs, HEAD first in even pairs",
        "note": ("per-query MIN across interleaved runs; |delta| < ~15% is "
                 "machine noise on this box, not signal; single- and "
                 "multi-layout series compared separately"),
    }
    for kind in ("single", "multi"):
        hq, bq = best(head_runs, kind), best(base_runs, kind)
        common = sorted(set(hq) & set(bq))  # HEADLINE can differ across
        # refs — deltas AND totals compare only the shared query set
        deltas = {
            q: round((hq[q] - bq[q]) / bq[q] * 100, 1)
            for q in common
            if bq[q] > 0
        }
        result[f"{kind}_head_queries_min"] = {
            q: round(t, 3) for q, t in sorted(hq.items())}
        result[f"{kind}_base_queries_min"] = {
            q: round(t, 3) for q, t in sorted(bq.items())}
        result[f"{kind}_delta_pct"] = deltas
        result[f"{kind}_head_total_min"] = round(
            sum(hq[q] for q in common), 2)
        result[f"{kind}_base_total_min"] = round(
            sum(bq[q] for q in common), 2)
    with open(os.path.join(REPO, "BENCH_AB.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
