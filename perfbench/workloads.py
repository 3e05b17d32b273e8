"""The benchmark's workloads. Each is one closed loop with one client (the
engine serves one statement at a time per session), driven from inputs
that `gen.py` makes from the run's seed.

A run is: set up the program SETUP_REPS times from cold program caches
(the first also launches the JVM and creates the Spark session; setup_s is
the median) -> the timed phase (tracing on or off) -> correctness checks
-> metrics. Op counts and their order depend only on (seed, seconds), so a
slower program takes longer rather than doing less. Python's cyclic
collector is paused during the timed phase and runs after it.
"""

from __future__ import annotations

import gc
import os
import statistics
import sys
import time

import numpy as np

from perfbench import gen
from perfbench.trace import Tracer, catalyst_phases, latency_summary, self_times

SETUP_REPS = 3
# Module groups the per-layer query metrics are keyed by
GROUPS = ("operators", "graph", "functions", "pipeline", "streaming",
          "unified")
# Per-layer metrics of a traced run, with units: the ones every workload
# reaches, plus per-module job counts and engine ratios (0 where a workload
# never reaches the layer). The report line adds the rest of the layer table
# (per-module times, engine times, read/write medians, recovery).
PER_LAYER = (
    [(f"{g}.jobs", "count") for g in GROUPS]
    + [("entry.self_s", "s"), ("collect.self_s", "s")]
    + [(f"catalyst.{p}_s", "s") for p in ("analysis", "optimization", "planning")]
    + [("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
       ("spark.failed_tasks", "count"), ("spark.executor_run_s", "s"),
       ("spark.executor_cpu_s", "s"), ("spark.shuffle_read_mb", "MB"),
       ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"),
       ("spark.input_mb", "MB"), ("py4j.calls", "count"), ("py4j.s", "s"),
       ("engine.cache_hit_ratio", "ratio"),
       ("engine.bytes_written_per_write", "bytes"),
       ("session.start_s", "s"), ("graph.model_s", "s"), ("op.self_s", "s"),
       ("trace.overhead_s", "s"), ("traced.latency_p50_s", "s"),
       ("traced.throughput_ops", "1/s")]
)
OLAP_PASS_S = 20.0        # nominal wall of one headline pass (4 cores)
SESSION_STATEMENTS_PER_S = 1.5  # statements per --seconds (30 at 20 s)


def reset_program_caches(spark) -> None:
    """Drop the program's per-session memo tables (module-level dicts
    named `*_CACHE`, keyed by session and input dir) and every block they
    pinned, so a set-up starts from cold program caches."""
    for name, mod in list(sys.modules.items()):
        if name.startswith("neumann_spark") and mod is not None:
            for attr, val in vars(mod).items():
                if attr.endswith("_CACHE") and isinstance(val, dict):
                    val.clear()
    if spark is not None:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for k in jmap.keySet().toArray():
            jmap.get(k).unpersist(True)


def _proc(pid: int, file: str, field: str) -> int:
    """One numeric field of /proc/<pid>/<file> (status values are kB)."""
    with open(f"/proc/{pid}/{file}") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


class Workload:
    name = ""
    sf = 0.1

    def __init__(self, root: str, seed: int, seconds: int, trace: bool):
        self.root, self.seed, self.seconds, self.trace = root, seed, seconds, trace
        self.parts = len(os.sched_getaffinity(0))
        self.spark = None
        self.failed_ops = 0
        self.layers: dict[str, float] = {}
        self.extra: dict = {}
        self.op_log: list[tuple[str, float]] = []   # (query or kind, latency)

    # -- program lifecycle -------------------------------------------------

    def start_session(self) -> float:
        """Clear the program's caches and get the session: the first call
        launches the JVM and creates it, later calls get the running one.
        Returns the get_spark wall."""
        from neumann_spark.session import get_spark

        reset_program_caches(self.spark)
        gc.collect()
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench_{self.name}")
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 — never leave it running
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def memory(self) -> dict[str, float]:
        """Memory of Python and its JVM after the timed phase, in MB, for the report:
        `peak_rss_mb` is the Python and JVM RSS high-water marks,
        `live_mem_mb` the Python peak plus the JVM heap still in use after
        a full collection. Neither is gated: the JVM's high-water mark
        follows the collector's heap sizing, and the live heap depends on
        what Spark's ContextCleaner has freed so far."""
        jvm = self.spark._jvm
        jvm.java.lang.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        live = (rt.totalMemory() - rt.freeMemory()) / 2**20
        py = _proc(os.getpid(), "status", "VmHWM") / 1024.0
        return {"live_mem_mb": py + live, "live_heap_mb": live,
                "py_peak_rss_mb": py,
                "peak_rss_mb": py + _proc(self.jvm_pid(), "status", "VmHWM") / 1024.0}

    def derive_graph(self, sf_dir: str) -> float:
        from neumann_spark.graph.model import edges_df, nodes_df

        t0 = time.perf_counter()
        nodes_df(self.spark, sf_dir).count()
        edges_df(self.spark, sf_dir).count()
        return time.perf_counter() - t0

    # -- one run -------------------------------------------------------------

    def log(self, msg: str) -> None:
        print(f"perfbench {self.name} {time.perf_counter() - self.t_start:7.1f}s "
              f"{msg}", file=sys.stderr, flush=True)

    def run(self) -> dict:
        self.t_start = time.perf_counter()
        self.dirs = gen.ensure_inputs(os.path.join(self.root, ".perfbench", "data"),
                                      self.seed, self.sf, self.parts)
        self.log("inputs ready")
        reps = [self.setup_once() for _ in range(SETUP_REPS)]
        setup_s = statistics.median(r["total"] for r in reps)
        for key in reps[0]:
            if key != "total":
                self.layers[key] = statistics.median(r[key] for r in reps)
        self.layers["session.start_s"] = reps[0]["session.start_s"]
        self.log(f"set-up x{SETUP_REPS} done")
        self.tracer = Tracer(self.spark, enabled=self.trace)
        # Python's cyclic collector waits until the timed phase is over
        gc.disable()
        try:
            lat, busy = self.timed_phase()
        finally:
            gc.enable()
            gc.collect()
        self.log(f"timed phase done: {len(lat)} ops")
        self.extra.update(self.memory())
        self.check()
        self.log("checks done")
        self.tracer.close()
        summary = latency_summary(lat)
        e2e = {
            "setup_s": (setup_s, "s"),
            "throughput_ops": (len(lat) / busy, "1/s"),
            "latency_p50_s": (summary["p50"], "s"),
            "latency_tail_s": (summary["tail"], "s"),
        }
        self.extra.update({
            "latency_tail_percentile": summary["tail_percentile"],
            "latency_n": summary["n"],
            "setup_reps_s": [r["total"] for r in reps],
        })
        return {"e2e": e2e, "attempted": self.attempted, "failed": self.failed_ops}

    def setup_once(self) -> dict:
        raise NotImplementedError

    def timed_phase(self) -> tuple[list[float], float]:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    # -- per-layer rollup (traced runs) ----------------------------------------

    def rollup(self) -> None:
        """Per-op means of every layer counter over the timed ops."""
        tr = self.tracer
        roots = {s.op: s for s in tr.spans if s.parent is None}
        self.layers["entry.self_s"] = self.self_time("entry")
        self.layers["collect.self_s"] = self.self_time("collect")
        plans = [s.attrs for s in tr.spans if s.name == "plan"]
        for phase in ("analysis", "optimization", "planning"):
            self.layers[f"catalyst.{phase}_s"] = _mean(p[phase] for p in plans)
        self.layers["spark.jobs"] = _mean(r.jobs[1] - r.jobs[0] for r in roots.values())
        for key in ("stages", "tasks", "failed_tasks", "executor_run_s",
                    "executor_cpu_s", "shuffle_read_mb", "shuffle_write_mb",
                    "spill_mb", "input_mb"):
            self.layers[f"spark.{key}"] = _mean(s[key] for s in tr.stage_stats.values())
        self.layers["py4j.calls"] = _mean(r.py4j_calls for r in roots.values())
        self.layers["py4j.s"] = _mean(r.py4j_s for r in roots.values())
        self.layers["op.self_s"] = self.self_time("op")
        self.layers["trace.overhead_s"] = tr.overhead_s / max(1, len(roots))

    def self_time(self, name: str, **root_attrs) -> float:
        """Mean self time of the spans called `name` (0 when none ran),
        optionally only in ops whose root span has these attributes."""
        spans = self.tracer.spans
        roots = {s.op: s.attrs for s in spans if s.parent is None}
        return _mean(st for s, st in zip(spans, self_times(spans))
                     if s.name == name and all(
                         roots[s.op].get(k) == v for k, v in root_attrs.items()))


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


# ---------------------------------------------------------------------------


class OlapSf01(Workload):
    """The 12 headline queries at sf0.1 (multi-file layout), one client, in
    bench.py's order. Each op is the query's first execution in the
    session: it builds the query and collects the result into Python.
    The results are hashed against the DuckDB oracles afterwards."""

    name = "olap_sf01"
    sf = 0.1

    def setup_once(self) -> dict:
        start = self.start_session()
        model = self.derive_graph(self.dirs["multi"])
        return {"total": start + model, "session.start_s": start,
                "graph.model_s": model}

    def timed_phase(self):
        from bench import HEADLINE
        from neumann_spark.registry import all_queries

        queries = all_queries()
        self.keep_rdds = self._persistent_ids()
        passes = max(1, round(self.seconds / OLAP_PASS_S))
        self.results: dict[str, object] = {}
        self.errors: dict[str, str] = {}
        self.op_query: dict[int, str] = {}
        lat, busy, op = [], 0.0, 0
        tr = self.tracer
        for _ in range(passes):
            for name in HEADLINE:
                op += 1
                fn = queries[name]
                group = fn.__module__.split(".")[1]
                self.op_query[op] = name
                t0 = time.perf_counter()
                try:
                    with tr.span("op", op, query=name, group=group) as root:
                        with tr.span("entry", op):
                            df = fn(self.spark, self.dirs["multi"])
                        if tr.enabled:
                            with tr.span("plan", op) as sp:
                                sp.attrs.update(catalyst_phases(df))
                        with tr.span("collect", op):
                            self.results[name] = df.toPandas()
                except Exception as e:  # noqa: BLE001 — a failed op, not a crash
                    self.errors[name] = repr(e)[:300]
                    root = None
                dt = time.perf_counter() - t0
                lat.append(dt)
                busy += dt
                self.op_log.append((name, dt))
                if root is not None:
                    tr.resolve_stages(op, root)
                self._release_query_state()
        self.attempted = op
        return lat, busy

    def _persistent_ids(self) -> set[int]:
        jmap = self.spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    def _release_query_state(self) -> None:
        """Unpersist what a query left cached (bench.py's hygiene), keeping
        the session graph; outside the op's latency."""
        gc.collect()
        jmap = self.spark.sparkContext._jsc.getPersistentRDDs()
        for k in jmap.keySet().toArray():
            if int(k) not in self.keep_rdds:
                jmap.get(k).unpersist(False)

    def check(self) -> None:
        from neumann_spark.registry import all_oracles
        from tools.selfcheck import make_duck, value_hash

        oracles = all_oracles()
        con = make_duck(self.dirs["single"])
        bad = dict(self.errors)
        for name in self.results.keys() - bad.keys():
            if name in bad:
                continue
            got = self.results[name]
            want = con.execute(oracles[name]).fetchdf()
            if len(got) != len(want):
                bad[name] = f"rows {len(got)} != oracle {len(want)}"
            elif sorted(got.columns) != sorted(want.columns):
                bad[name] = f"columns {sorted(got.columns)} != {sorted(want.columns)}"
            elif value_hash(got) != value_hash(want):
                bad[name] = "value hash differs from the oracle"
        con.close()
        self.failed_ops = sum(1 for q in self.op_query.values() if q in bad)
        self.extra["check_failures"] = bad
        if self.trace:
            self.rollup()

    def rollup(self) -> None:
        super().rollup()
        for g in GROUPS:
            self.layers[f"{g}.build_s"] = self.self_time("entry", group=g)
            self.layers[f"{g}.exec_s"] = self.self_time("collect", group=g)
            self.layers[f"{g}.jobs"] = _mean(
                r.jobs[1] - r.jobs[0] for r in self.tracer.spans
                if r.parent is None and r.attrs["group"] == g)


# ---------------------------------------------------------------------------


class SessionRW(Workload):
    """A seeded statement stream through `NeumannSparkEngine.execute` on an
    sf0.01 store, WAL armed by SAVE; 30% writes (INSERT/NODE/EDGE/EMBED),
    skewed reads (SELECT/FIND/NEIGHBORS/SIMILAR/PATH) in a fixed
    interleaving (gen.ROUND_KINDS); the seed picks keys, values and
    vectors. Every read is
    checked against the acknowledged writes; the run ends with a restart
    plus LOAD ... RECOVER, which must restore every acknowledged write."""

    name = "session_rw"
    sf = 0.01

    def setup_once(self) -> dict:
        from neumann_spark.engine import NeumannSparkEngine

        start = self.start_session()
        model = self.derive_graph(self.dirs["single"])
        t0 = time.perf_counter()
        self.engine = NeumannSparkEngine(self.spark, self.dirs["single"])
        init = time.perf_counter() - t0
        return {"total": start + model + init, "session.start_s": start,
                "graph.model_s": model, "engine.init_s": init}

    def _load_corpus(self) -> None:
        import pyarrow.parquet as pq

        d = self.dirs["single"]
        cust = pq.read_table(f"{d}/customer.parquet", columns=["c_custkey", "c_nationkey"])
        self.customers = np.stack([cust["c_custkey"].to_numpy(),
                                   cust["c_nationkey"].to_numpy()], axis=1)
        emb = pq.read_table(f"{d}/embeddings.parquet")
        self.vectors = {str(k): np.asarray(v, dtype=np.float32) for k, v in zip(
            emb["vec_id"].to_pylist(), emb["embedding"].to_pylist())}

    def timed_phase(self):
        self._load_corpus()
        n = max(20, round(self.seconds * SESSION_STATEMENTS_PER_S))
        self.stream = gen.session_stream(self.seed, n, self.customers,
                                         len(self.vectors))
        self.snap = os.path.join(self.root, ".perfbench", "snapshots",
                                 f"{self.name}-{self.seed}-{os.getpid()}")
        eng = self.engine
        eng.execute("CREATE TABLE notes (id BIGINT, grp INT, qty INT, body STRING)").collect()
        eng.execute(f"SAVE '{self.snap}'").collect()
        self.model = {"notes": [], "persons": [], "edges": [], "embeds": {}}
        self.read_lat, self.write_lat = [], []
        self.hits = self.cacheable = 0
        self.check_failures: list[str] = []
        self.write_bytes: list[int] = []
        last_frame: dict[str, object] = {}
        jvm = self.jvm_pid()
        tr = self.tracer
        lat, busy = [], 0.0
        for op, st in enumerate(self.stream, start=1):
            io0 = _proc(jvm, "io", "wchar") if tr.enabled and st.write else 0
            t0 = time.perf_counter()
            rows, err = None, None
            try:
                with tr.span("op", op, kind=st.kind, write=st.write) as root:
                    with tr.span("entry", op):
                        df = eng.execute(st.command)
                    if tr.enabled:
                        with tr.span("plan", op) as sp:
                            sp.attrs.update(catalyst_phases(df))
                    with tr.span("collect", op):
                        rows = df.collect()
            except Exception as e:  # noqa: BLE001 — a failed op, not a crash
                err, root = repr(e)[:300], None
            dt = time.perf_counter() - t0
            lat.append(dt)
            busy += dt
            self.op_log.append((st.kind, dt))
            (self.write_lat if st.write else self.read_lat).append(dt)
            if tr.enabled and st.write:
                self.write_bytes.append(_proc(jvm, "io", "wchar") - io0)
            if not st.write and err is None:
                self.cacheable += 1
                self.hits += last_frame.get(st.command) is df
                last_frame[st.command] = df
            problem = err or self.check_statement(st, rows)
            if problem:
                self.failed_ops += 1
                self.check_failures.append(f"{st.command[:60]}: {problem}")
            if root is not None:
                tr.resolve_stages(op, root)
        self.attempted = len(self.stream) + 1   # + the recovery op
        return lat, busy

    # -- correctness against the acknowledged writes -------------------------

    def check_statement(self, st: gen.Statement, rows) -> str | None:
        m, a = self.model, st.args
        if st.kind == "INSERT":
            if [tuple(r) for r in rows] != [("notes", 1)]:
                return f"unexpected ack {rows}"
            m["notes"].append((a["grp"], a["qty"]))
        elif st.kind == "NODE":
            m["persons"].append(a["id"])
        elif st.kind == "EDGE":
            m["edges"].append((a["src"], a["dst"]))
        elif st.kind == "EMBED":
            m["embeds"][a["key"]] = np.asarray(a["vec"], dtype=np.float32)
        elif st.kind == "SELECT":
            qty = [q for g, q in m["notes"] if g == a["grp"]]
            want = (len(qty), sum(qty) if qty else None)
            if [tuple(r) for r in rows] != [want]:
                return f"got {rows}, acknowledged writes give {want}"
        elif st.kind == "FIND":
            if len(rows) != len(m["persons"]):
                return f"{len(rows)} person nodes, {len(m['persons'])} acknowledged"
        elif st.kind == "NEIGHBORS":
            got = sorted(int(r["neighbor_id"]) for r in rows)
            want = sorted(d for s, d in m["edges"] if s == a["id"])
            if got != want:
                return f"neighbors {got} != acknowledged {want}"
        elif st.kind == "SIMILAR":
            return self.check_similar(a["key"], rows)
        elif st.kind == "PATH":
            linked = ((a["a"], a["b"]) in m["edges"]
                      or (a["b"], a["a"]) in m["edges"])
            want = 1 if linked else 2
            if len(rows) != 1 or int(rows[0]["dist"]) != want:
                return f"path {rows} != dist {want}"
        return None

    def check_similar(self, key: str, rows) -> str | None:
        """Exact cosine top-10 over the generated corpus plus acknowledged
        EMBEDs (numpy), with a 1e-9 tie allowance at the k-th score."""
        store = {**self.vectors, **self.model["embeds"]}
        if key not in store:
            return f"query key {key!r} was never acknowledged"
        keys = [k for k in store if k != key]
        mat = np.stack([store[k] for k in keys]).astype(np.float64)
        q = store[key].astype(np.float64)
        cos = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
        score = dict(zip(keys, cos))
        kth = np.sort(cos)[-10]
        if len(rows) != 10:
            return f"{len(rows)} rows, want 10"
        for r in rows:
            k = r["key"]
            if k not in score or score[k] < kth - 1e-9 \
                    or abs(score[k] - r["score"]) > 2e-6:
                return f"{k} (score {r['score']}) is not in the exact top 10"
        return None

    def check(self) -> None:
        """Restart the engine (a fresh one, with the old one's temp views
        dropped), recover from the snapshot + WAL, and verify every
        acknowledged write is there."""
        from neumann_spark.engine import NeumannSparkEngine

        self.engine = None
        for t in self.spark.catalog.listTables():
            if t.isTemporary:
                self.spark.catalog.dropTempView(t.name)
        eng = NeumannSparkEngine(self.spark, self.dirs["single"])
        t0 = time.perf_counter()
        eng.execute(f"LOAD '{self.snap}' RECOVER").collect()
        self.extra["recover_s"] = time.perf_counter() - t0
        m, lost = self.model, 0
        n, q = eng.execute("SELECT count(*) AS n, sum(qty) AS q FROM notes").collect()[0]
        lost += abs(len(m["notes"]) - n) + (q != (sum(x for _, x in m["notes"]) or None))
        lost += abs(len(m["persons"]) - len(eng.execute("FIND NODES person").collect()))
        lost += abs(len(m["edges"]) - len(eng.execute("EDGE LIST knows").collect()))
        for key, vec in m["embeds"].items():
            got = eng.execute(f"EMBED GET '{key}'").collect()
            if len(got) != 1 or np.abs(np.asarray(got[0]["embedding"]) - vec).max() > 1e-6:
                lost += 1
        if lost:
            self.failed_ops += 1
            self.check_failures.append(f"recovery lost {lost} acknowledged writes")
        self.extra.update({
            "check_failures": self.check_failures,
            "read_p50_s": statistics.median(self.read_lat),
            "write_p50_s": statistics.median(self.write_lat),
            "statements": len(self.stream),
            "writes": len(self.write_lat),
        })
        if self.trace:
            self.rollup()

    def rollup(self) -> None:
        super().rollup()
        self.layers["engine.execute_s"] = self.layers["entry.self_s"]
        self.layers["engine.materialize_s"] = self.layers["collect.self_s"]
        self.layers["engine.jobs_per_statement"] = self.layers["spark.jobs"]
        self.layers["engine.cache_hit_ratio"] = self.hits / max(1, self.cacheable)
        self.layers["engine.bytes_written_per_write"] = _mean(self.write_bytes)
        for key in ("read_p50_s", "write_p50_s", "recover_s"):
            self.layers[f"engine.{key}"] = self.extra[key]


WORKLOADS = {w.name: w for w in (OlapSf01, SessionRW)}
