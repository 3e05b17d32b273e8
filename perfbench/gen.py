"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from the run's seed:
the TPC-H-shaped star schema plus the events, documents and embeddings
tables (same table names, column names, types and value distributions as
the repository's parquet fixtures), and the statement stream of the
interactive-session workload. The same (seed, size) always gives the same
bytes; different seeds give different data.

Tables are written twice: one parquet file per table (the layout DuckDB's
oracle views read) and a multi-file copy with `parts` files per table (the
layout Spark reads, as `bench.py`'s headline series does).
"""

from __future__ import annotations

import os
import subprocess
import sys
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "de", "es", "fr", "zh")
VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
DIM = 64
DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts with two decimals (exact cents, as the fixtures)."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor `sf` (sf0.1: 600K lineitem rows)."""
    rng = np.random.default_rng([seed, int(round(sf * 1e6))])
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(4, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(20, int(1_500_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    n_emb = 2_000 if sf >= 0.1 else 500
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    pkeys = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    t["part"] = pa.table({
        "p_partkey": pa.array(pkeys),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array(np.array([f"Brand#{i}" for i in range(1, 26)])
                            [rng.integers(0, 25, n_part)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(900.0 + (pkeys % 1000) / 10.0)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(("F", "O", "P"))
                                  [rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES)
                                    [rng.integers(0, 5, n_ord)])})

    # 1..7 lines per order, unique (orderkey, linenumber) like TPC-H
    lines = rng.integers(1, 8, n_ord)
    okeys = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenos = (np.arange(len(okeys)) - starts + 1).astype(np.int32)
    n_li = len(okeys)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(linenos),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(("A", "N", "R"))
                                 [rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(("F", "O"))[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, n_li) * DAY_US)})

    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_ev))),
        "user_id": pa.array(rng.integers(0, max(10, int(15_000 * sf)), n_ev,
                                         dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})

    # documents: random vocabulary text, ~5% near-duplicates of an earlier
    # document (its text plus one extra token), so MinHash has pairs to find
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n_doc)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    dup = rng.random(n_doc) < 0.05
    dup[0] = False
    for i in np.flatnonzero(dup):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)]),
        "source": pa.array(np.array([f"src{i}" for i in range(20)])
                           [rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64))})

    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(unit_vectors(rng, n_emb)),
                              type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32))})
    return t


def unit_vectors(rng: np.random.Generator, n: int) -> np.ndarray:
    """Isotropic unit Gaussians, float32 (the fixture's embedding law)."""
    x = rng.standard_normal((n, DIM))
    x /= np.linalg.norm(x, axis=1)[:, None]
    return x.astype(np.float32)


def _layout(root: str, seed: int, sf: float, parts: int) -> tuple[str, dict]:
    base = os.path.join(root, f"sf{sf:g}-seed{seed}-p{parts}")
    return base, {"single": os.path.join(base, "single"),
                  "multi": os.path.join(base, "multi")}


def ensure_inputs(root: str, seed: int, sf: float, parts: int) -> dict[str, str]:
    """`write_inputs` in a child interpreter, so the generator's memory never
    shows in the benchmark process's."""
    base, dirs = _layout(root, seed, sf, parts)
    if not os.path.exists(os.path.join(base, "_DONE")):
        subprocess.run([sys.executable, "-m", "perfbench.gen", root, str(seed),
                        repr(sf), str(parts)], check=True,
                       cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    return dirs


def write_inputs(root: str, seed: int, sf: float, parts: int) -> dict[str, str]:
    """Generate once per (seed, sf, parts) under `root` and return
    {"single": dir, "multi": dir}. A `_DONE` marker makes the cache safe
    against a run killed mid-write."""
    base, dirs = _layout(root, seed, sf, parts)
    if os.path.exists(os.path.join(base, "_DONE")):
        return dirs
    for name, tbl in make_tables(seed, sf).items():
        os.makedirs(dirs["single"], exist_ok=True)
        pq.write_table(tbl, os.path.join(dirs["single"], f"{name}.parquet"))
        tdir = os.path.join(dirs["multi"], f"{name}.parquet")
        os.makedirs(tdir, exist_ok=True)
        step = -(-tbl.num_rows // parts)
        for i in range(parts):
            chunk = tbl.slice(i * step, step)
            if chunk.num_rows or i == 0:
                pq.write_table(chunk, os.path.join(tdir, f"part-{i:05d}.parquet"))
    with open(os.path.join(base, "_DONE"), "w") as fh:
        fh.write("ok\n")
    return dirs


# --- the interactive-session statement stream -----------------------------

# One round of the session: 6 writes (30%) among 14 reads, in a fixed
# interleaving; the seed picks keys, values and vectors. Reads between two
# writes can repeat a command and hit the result cache.
ROUND_KINDS = ("INSERT", "SELECT", "NEIGHBORS", "FIND", "EDGE", "NEIGHBORS",
               "SELECT", "SELECT", "EMBED", "SIMILAR", "NODE", "FIND",
               "SELECT", "PATH", "INSERT", "SELECT", "NEIGHBORS", "EMBED",
               "SIMILAR_NEW", "NEIGHBORS")
WRITES = frozenset({"INSERT", "NODE", "EDGE", "EMBED"})
ROUND = len(ROUND_KINDS)
NOTE_GROUPS = 4
PERSON_BASE = 5_000_000


@dataclass
class Statement:
    kind: str          # the ROUND_KINDS entry it was made from
    command: str
    write: bool
    args: dict = field(default_factory=dict)


def _zipf_pick(rng: np.random.Generator, pool: list, s: float = 1.2):
    """Skewed choice: rank r is drawn with weight 1/r^s, so a few hot
    entries repeat (and can hit the result cache)."""
    w = 1.0 / np.arange(1, len(pool) + 1) ** s
    return pool[int(rng.choice(len(pool), p=w / w.sum()))]


def session_stream(seed: int, n: int, customers: np.ndarray,
                   n_embeddings: int) -> list[Statement]:
    """`n` statements, repeating the ROUND_KINDS pattern. `customers` is (custkey, nationkey) for the generated customer
    table; PATH pairs share a nation so their hop distance is known."""
    rng = np.random.default_rng([seed, 7])
    hot_cust = [int(c) for c in rng.choice(customers[:, 0], 12, replace=False)]
    hot_keys = [str(int(k)) for k in rng.choice(n_embeddings, 8, replace=False)]
    by_nation: dict[int, list[int]] = {}
    for ck, nk in customers:
        by_nation.setdefault(int(nk), []).append(int(ck))
    out: list[Statement] = []
    note_id = person = embed = 0
    embedded: list[str] = []
    while len(out) < n:
        for kind in ROUND_KINDS[: n - len(out)]:
            if kind == "SIMILAR_NEW" and not embedded:
                kind = "SIMILAR"
            if kind == "INSERT":
                grp, qty = int(note_id % NOTE_GROUPS), int(rng.integers(1, 100))
                out.append(Statement(kind, f"INSERT INTO notes VALUES ({note_id}, "
                           f"{grp}, {qty}, 'note {note_id}')", True,
                           {"id": note_id, "grp": grp, "qty": qty}))
                note_id += 1
            elif kind == "NODE":
                nid = PERSON_BASE + person
                person += 1
                out.append(Statement(kind, f"NODE CREATE person {{id: {nid}}}",
                                     True, {"id": nid}))
            elif kind == "EDGE":
                a, b = _zipf_pick(rng, hot_cust), _zipf_pick(rng, hot_cust)
                out.append(Statement(kind, f"EDGE CREATE {a} -> {b} : knows",
                                     True, {"src": a, "dst": b}))
            elif kind == "EMBED":
                key = f"q{embed}"
                embed += 1
                vec = unit_vectors(rng, 1)[0]
                embedded.append(key)
                out.append(Statement(kind, f"EMBED STORE '{key}' ["
                           + ", ".join(f"{v:.6f}" for v in vec) + "]", True,
                           {"key": key, "vec": [float(f"{v:.6f}") for v in vec]}))
            elif kind == "SELECT":
                grp = int(_zipf_pick(rng, list(range(NOTE_GROUPS))))
                out.append(Statement(kind, "SELECT count(*) AS n, sum(qty) AS q "
                           f"FROM notes WHERE grp = {grp}", False, {"grp": grp}))
            elif kind == "FIND":
                out.append(Statement(kind, "FIND NODES person", False))
            elif kind == "NEIGHBORS":
                a = _zipf_pick(rng, hot_cust)
                out.append(Statement(kind, f"NEIGHBORS {a} OUTGOING : knows",
                                     False, {"id": a}))
            elif kind in ("SIMILAR", "SIMILAR_NEW"):
                key = (_zipf_pick(rng, hot_keys) if kind == "SIMILAR"
                       else embedded[int(rng.integers(0, len(embedded)))])
                out.append(Statement("SIMILAR", f"SIMILAR '{key}' TOP 10",
                                     False, {"key": key}))
            else:  # PATH between two customers of one nation
                nk = _zipf_pick(rng, sorted(by_nation))
                a, b = (int(x) for x in rng.choice(by_nation[nk], 2, replace=False))
                out.append(Statement(kind, f"PATH {a} -> {b} MAX 2", False,
                                     {"a": a, "b": b}))
    return out


if __name__ == "__main__":
    write_inputs(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]), int(sys.argv[4]))
