"""Check that two traced runs did the same Spark work, op by op.

    python3 perfbench/same_counts.py A.json B.json

A and B are trace files that `run.py --trace 1` writes to `.perfbench/out/`
(normally two runs of one workload and seed). For every op it compares the
query or statement kind, the jobs started inside each span, and the
executed (non-skipped) stage and task counts. Prints the per-op table and
exits 1 on the first difference in any count. Count-based claims rest on
these counts repeating exactly.
"""

from __future__ import annotations

import json
import sys


def op_counts(path: str) -> list[dict]:
    with open(path) as fh:
        trace = json.load(fh)["spans"]
    spans, stages = trace["spans"], trace["ops"]
    ops: dict[int, dict] = {}
    for s in spans:
        o = ops.setdefault(s["op"], {"op": s["op"], "jobs": {}})
        if s["parent"] is None:
            o["what"] = s.get("query") or s.get("kind")
        o["jobs"][s["name"]] = o["jobs"].get(s["name"], 0) + s["jobs"]
    for o in ops.values():
        st = stages.get(str(o["op"]), {})
        o["stages"] = int(st.get("stages", -1))
        o["tasks"] = int(st.get("tasks", -1))
    return [ops[k] for k in sorted(ops)]


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = (op_counts(p) for p in argv)
    same = len(a) == len(b)
    for x, y in zip(a, b):
        ok = x == y
        same &= ok
        print(f"{'  ' if ok else '!!'} op {x['op']:>3} {x['what']:<28} "
              f"jobs {x['jobs']['op']:>3} stages {x['stages']:>3} "
              f"tasks {x['tasks']:>4}"
              + ("" if ok else f"   vs {y['what']} {y['jobs']} "
                 f"stages {y['stages']} tasks {y['tasks']}"))
    print("counts repeat exactly" if same else "COUNTS DIFFER")
    return 0 if same else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
