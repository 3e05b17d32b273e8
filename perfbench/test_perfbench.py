"""Tests of the benchmark's own machinery (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pytest

from perfbench import gen
from perfbench.trace import Span, latency_summary, self_times, tail_rank


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_inputs_are_byte_identical_for_one_seed(tmp_path):
    a = gen.write_inputs(str(tmp_path / "a"), seed=7, sf=0.002, parts=3)
    b = gen.write_inputs(str(tmp_path / "b"), seed=7, sf=0.002, parts=3)
    da, db = _digest(os.path.dirname(a["single"])), _digest(os.path.dirname(b["single"]))
    assert da and da == db


def test_inputs_differ_across_seeds():
    t1, t2 = gen.make_tables(1, 0.002), gen.make_tables(2, 0.002)
    assert set(t1) == set(gen.TABLES)
    for name in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
        assert not t1[name].equals(t2[name]), name
    # fixed dimension tables are the same by design
    assert t1["region"].equals(t2["region"]) and t1["nation"].equals(t2["nation"])


def test_multi_file_copy_holds_the_same_rows(tmp_path):
    import pyarrow.parquet as pq

    d = gen.write_inputs(str(tmp_path), seed=3, sf=0.002, parts=4)
    for name in gen.TABLES:
        single = pq.read_table(os.path.join(d["single"], f"{name}.parquet"))
        multi = pq.read_table(os.path.join(d["multi"], f"{name}.parquet"))
        assert single.num_rows == multi.num_rows, name


def test_lineitem_keys_are_unique():
    li = gen.make_tables(5, 0.002)["lineitem"]
    keys = set(zip(li["l_orderkey"].to_pylist(), li["l_linenumber"].to_pylist()))
    assert len(keys) == li.num_rows


def _stream(seed: int, n: int = 60):
    cust = np.stack([np.arange(200), np.arange(200) % 25], axis=1)
    return gen.session_stream(seed, n, cust, 100)


def test_statement_stream_is_seeded():
    a, b, c = _stream(4), _stream(4), _stream(5)
    assert [s.command for s in a] == [s.command for s in b]
    assert [s.command for s in a] != [s.command for s in c]


def test_statement_stream_follows_the_round_pattern():
    s = _stream(9, 2 * gen.ROUND)
    kinds = [k if k != "SIMILAR_NEW" else "SIMILAR" for k in gen.ROUND_KINDS]
    assert [x.kind for x in s] == 2 * kinds
    assert all(x.write == (x.kind in gen.WRITES) for x in s)
    assert sum(x.write for x in s[:gen.ROUND]) == 6      # 30% writes
    # a stream that asks for a partial round gets exactly n statements
    assert len(_stream(9, 7)) == 7


@pytest.mark.parametrize("n,rank", [(1, None), (12, None), (20, None),
                                    (21, 11), (30, 20), (40, 30), (1000, 990)])
def test_tail_rank_leaves_ten_samples_above(n, rank):
    assert tail_rank(n) == rank
    if rank is not None:
        assert n - rank == 10 and rank / n > 0.5


def test_latency_summary_tail_and_fallback():
    xs = [float(i) for i in range(1, 41)]          # 1..40
    s = latency_summary(xs)
    assert s["tail"] == 30.0 and s["tail_percentile"] == 75.0 and s["n"] == 40
    assert sum(x > s["tail"] for x in xs) == 10
    assert s["p50"] == 20.5
    small = latency_summary([3.0, 1.0, 2.0])
    assert small["tail"] == 3.0 and small["tail_percentile"] == 100.0


def test_self_time_is_duration_minus_child_coverage():
    spans = [
        Span("op", 1, None, 0.0, 10.0),        # 0: root
        Span("build", 1, 0, 1.0, 3.0),         # 1
        Span("plan", 1, 0, 2.0, 5.0),          # 2: overlaps build by 1
        Span("exec", 1, 0, 7.0, 8.0),          # 3
        Span("inner", 1, 3, 7.2, 7.5),         # 4: child of exec
        Span("late", 1, 0, 9.5, 12.0),         # 5: runs past its parent
        Span("op", 2, None, 20.0, 21.0),       # 6: a second root, no kids
    ]
    st = self_times(spans)
    # root: 10 - ([1,5] + [7,8] + [9.5,10]) = 10 - 5.5
    assert st[0] == pytest.approx(4.5)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0 - 0.3)
    assert st[4] == pytest.approx(0.3)
    assert st[5] == pytest.approx(2.5)
    assert st[6] == pytest.approx(1.0)
