"""Engine facade: `NeumannSparkEngine.execute(command)` — the Spark analog of
the reference's primary entry point `QueryRouter::execute`
(`query_router/src/lib.rs:1499-1538` keyword dispatch; SURVEY.md §3.1).

A user of the reference talks to it in its command language (SQL +
NODE/EDGE/NEIGHBORS/PATH + EMBED/SIMILAR + FIND). This facade accepts that
surface and lowers every command onto the DataFrame operators in this
package — the parse is a thin keyword dispatch + regex argument pull, NOT a
re-implementation of the reference's 18k-line recursive-descent parser
(`neumann_parser/`): for SQL we hand the statement to Spark SQL, which is a
strict superset of the reference's executable SQL (SURVEY.md §2.2).

Mutating commands (CREATE TABLE / INSERT / NODE / EDGE / EMBED) maintain
session-local DataFrames layered over the parquet fixtures — the batch
analog of the reference's in-memory stores. Results cache per command text
with write invalidation (`query_router/src/lib.rs:1931-1961`); streaming
cursors map to `toLocalIterator` batches (`relational_engine/src/cursor.rs`).
"""

from __future__ import annotations

import ast
import re
from collections import OrderedDict
from typing import Iterator, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neumann_spark.catalog import TABLES, load
from neumann_spark.functions.vector import knn
from neumann_spark.graph.model import edges_df, nodes_df, undirected_edges
from neumann_spark.graph.traversal import bfs_levels, hop_distance
from neumann_spark.session import local_df, run_actions_parallel

# Overlay lineage-truncation cadence: mutations between lazy
# localCheckpoints of the session overlays. OPTIMIZATION_r14 measured
# cadence 1 against 8: walls within noise and at most 2 fewer jobs per
# query, while 8 keeps fewer materialized overlay copies.
_OVERLAY_CP_EVERY = 8


class NeumannSparkEngine:
    """Session facade over the fixture tables + mutable session overlays."""

    CACHEABLE = ("SELECT", "SIMILAR", "NEIGHBORS", "PATH", "FIND")
    WRITES = ("CREATE", "INSERT", "DROP", "NODE", "EDGE", "EMBED", "UPDATE",
              "DELETE", "MERGE", "ALTER", "ENTITY", "BATCH", "CONSTRAINT",
              "GRAPH",  # only GRAPH INDEX CREATE/DROP mutate (see _is_write)
              "LOAD", "ROLLBACK")  # LOAD/ROLLBACK replace the session state
    # verbs in WRITES whose read-only subcommands must NOT invalidate
    # (`query_router/src/lib.rs:1931-1961` keys invalidation on mutation,
    # not on verb family: NODE GET is a lookup, NODE CREATE is a write)
    READ_SUBS = frozenset({"GET", "LIST", "QUERY"})
    CACHE_MAX = 32

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._cache: "OrderedDict[str, DataFrame]" = OrderedDict()
        self._tables: dict[str, DataFrame] = {}
        # foreign keys per session table (`relational_engine/src/lib.rs:
        # 183-258` ForeignKeyConstraint + ReferentialAction)
        self._fks: dict[str, list[dict]] = {}
        # PRIMARY KEY / UNIQUE / NOT NULL / DEFAULT per session table
        # (`relational_engine/src/lib.rs:235-258` Constraint;
        # `:1397-1432` PrimaryKeyViolation/UniqueViolation): uniques is a
        # list of {name, columns, pk}, not_null a column list, defaults a
        # {column: literal} map applied to keyed inserts and SET DEFAULT
        self._table_constraints: dict[str, dict] = {}
        # open pagination cursors (`query_router/src/cursor.rs`)
        self._cursors: dict[str, dict] = {}
        self._nodes = nodes_df(spark, sf_dir)
        self._edges = edges_df(spark, sf_dir)
        self._embeddings = load(spark, sf_dir, "embeddings").select(
            F.col("vec_id").cast("string").alias("key"), "embedding"
        )
        # secondary label set (`add_label`/`remove_label`, lib.rs:3641-3730 —
        # the reference's nodes carry a label SET; the primary label column
        # stays single-valued for the derived-graph queries)
        self._extra_labels = local_df(spark, [], "id bigint, label string")
        # per-key embedding metadata (`vector_engine/src/lib.rs:3320,3346`)
        self._emb_meta = local_df(spark,
            [], "key string, meta_key string, meta_value string"
        )
        # embedding collections (`vector_engine/src/lib.rs:1369-1585`):
        # session membership overlay; fixture vectors are uncollected
        self._emb_coll = local_df(spark, [], "key string, collection string")
        # (frame, dim) of the `_embeddings` frame the last EMBED checked
        self._emb_dim: "Optional[tuple[DataFrame, int]]" = None
        # unified entity property store (`tensor_unified/src/lib.rs:475`:
        # key → table fields; the node/embedding halves live in the
        # overlays above, joined by the derived id / the key string)
        self._entity_props = local_df(spark,
            [], "key string, label string, props string"
        )
        # graph constraints (`graph_engine` constraint registry; enforced
        # on read via CONSTRAINT CREATE validation, SURVEY.md §2.9)
        self._constraints: dict[str, tuple[str, Optional[str], str, str]] = {}
        # declared graph indexes — a semantic no-op for a scan engine
        # (partitioning/pruning concern, noted SURVEY.md §2.9); tracked so
        # GRAPH INDEX SHOW round-trips
        self._graph_indexes: dict[str, str] = {}
        self._mutations = 0
        # WAL (`tensor_store/src/wal.rs`; durable open/recover
        # `relational_engine/src/lib.rs:2148-2240`): armed by SAVE (fresh
        # epoch) and by LOAD … RECOVER (continuing the epoch); every
        # mutating facade command then journals to <snapshot>/wal.json so
        # `LOAD '<dir>' RECOVER` = snapshot restore + command replay
        self._wal_path: "Optional[str]" = None
        self._wal_entries: list[str] = []
        self._wal_epoch = ""
        self._wal_replaying = False
        self._last_manifest_data_dir = ""
        # BEGIN/COMMIT/ROLLBACK transaction fork (None = no open tx):
        # a shallow state snapshot — every store is an immutable DataFrame
        # plan and the metadata dicts are deep-copied at BEGIN
        self._tx_fork: "Optional[dict]" = None
        self._tx_wal_buffer: list[str] = []
        for t in TABLES:
            load(spark, sf_dir, t).createOrReplaceTempView(t)

    # -- entry point ------------------------------------------------------

    def execute(self, command: str) -> DataFrame:
        """Keyword dispatch (`query_router/src/lib.rs:1499-1538`): the first
        token routes to SQL, graph, vector, or unified handlers. Cacheable
        results memoize on command text; writes invalidate
        (`query_router/src/lib.rs:1931-1961`)."""
        cmd = command.strip()
        head = cmd.split(None, 1)[0].upper() if cmd else ""
        if self._is_write(head, cmd):
            self._cache_clear()
        elif cmd in self._cache:
            self._cache.move_to_end(cmd)  # LRU touch
            hit = self._cache[cmd]
            if not hit.is_cached:
                hit.persist()
            return hit

        if head == "MATCH" and re.search(r"\b(DETACH\s+)?DELETE\b", cmd, re.I):
            self._cache_clear()  # a write despite its MATCH head
            out = self._exec_cypher_delete(cmd)
            self._wal_append(cmd)
            return out

        if head in ("SELECT", "WITH"):
            # the integration tests' bare `SELECT <table>` form
            # (`integration_tests/tests/cross_engine.rs`) = full scan
            bm = re.match(r"SELECT\s+(\w+)\s*$", cmd, re.I)
            if bm and (bm.group(1) in self._tables or bm.group(1) in TABLES):
                out = self.spark.table(bm.group(1))
            else:
                out = self.spark.sql(cmd)
        elif head == "CREATE" and re.match(r"CREATE\s*\(", cmd, re.I):
            out = self._exec_cypher_create(cmd)
        elif head == "MERGE":
            out = self._exec_cypher_merge(cmd)
        elif head == "CREATE":
            out = self._exec_create(cmd)
        elif head == "INSERT":
            out = self._exec_insert(cmd)
        elif head == "DROP":
            out = self._exec_drop(cmd)
        elif head == "ALTER":
            out = self._exec_alter(cmd)
        elif head == "SHOW":
            out = self._exec_show(cmd)
        elif head == "DESCRIBE":
            out = self.spark.sql(cmd)
        elif head == "NODE":
            out = self._exec_node(cmd)
        elif head == "EDGE":
            out = self._exec_edge(cmd)
        elif head == "NEIGHBORS":
            out = self._exec_neighbors(cmd)
        elif head == "PATH":
            out = self._exec_path(cmd)
        elif head == "EMBED":
            out = self._exec_embed(cmd)
        elif head == "SIMILAR":
            out = self._exec_similar(cmd)
        elif head == "FIND":
            out = self._exec_find(cmd)
        elif head == "MATCH":
            out = self._exec_match(cmd)
        elif head == "UPDATE":
            out = self._exec_update(cmd)
        elif head == "DELETE":
            out = self._exec_delete(cmd)
        elif head == "COUNT":
            out = self._exec_count(cmd)
        elif head == "ENTITY":
            out = self._exec_entity(cmd)
        elif head == "GRAPH":
            out = self._exec_graph(cmd)
        elif head == "CONSTRAINT":
            out = self._exec_constraint(cmd)
        elif head == "BATCH":
            out = self._exec_batch(cmd)
        elif head == "AGGREGATE":
            out = self._exec_aggregate(cmd)
        elif head == "SAVE":
            out = self._exec_save(cmd)
        elif head == "LOAD":
            out = self._exec_load(cmd)
        elif head == "BEGIN":
            out = self._exec_begin(cmd)
        elif head == "COMMIT":
            out = self._exec_commit(cmd)
        elif head == "CHECKPOINT":
            out = self._exec_checkpoint(cmd)
        elif head == "ROLLBACK":
            out = self._exec_rollback(cmd)
        elif head == "CHECKPOINTS":
            out = self._exec_checkpoints(cmd)
        elif head == "LIST" and re.match(r"LIST\s+TABLES", cmd, re.I):
            out = self._exec_show("SHOW TABLES")
        elif head in ("PAGERANK", "LOUVAIN", "BETWEENNESS", "CLOSENESS",
                      "EIGENVECTOR", "LABEL"):
            # bare algorithm heads (samples/knowledge-base.nql spelling:
            # `PAGERANK EDGE_TYPE reports_to`, `LOUVAIN`)
            expand = {"LOUVAIN": "LOUVAIN COMMUNITIES",
                      "BETWEENNESS": "BETWEENNESS CENTRALITY",
                      "CLOSENESS": "CLOSENESS CENTRALITY",
                      "EIGENVECTOR": "EIGENVECTOR CENTRALITY"}
            body = cmd.split(None, 1)[1] if len(cmd.split(None, 1)) > 1 else ""
            verb = expand.get(head, head)
            if head in expand and re.match(
                    rf"{head}\s+{expand[head].split()[1]}", cmd, re.I):
                verb = head  # already spelled out
            out = self._exec_graph(f"GRAPH {verb} {body}".strip())
        else:
            raise ValueError(f"unsupported command: {head!r}")

        if head in self.CACHEABLE:
            self._cache_store(cmd, out)
        if self._is_write(head, cmd):
            self._wal_append(cmd, head=head)
        return out

    # -- WAL (`tensor_store/src/wal.rs`) ----------------------------------

    # snapshot-machinery heads never journal through the generic write
    # path: SAVE starts the epoch, LOAD/ROLLBACK replace the state the log
    # describes. CHECKPOINT journals itself explicitly (resolved-name
    # form, _exec_checkpoint) so LOAD … RECOVER rebuilds the checkpoint
    # registry too — replaying CHECKPOINT 'name' at its log position
    # re-saves from the exact state it originally captured
    _WAL_EXCLUDED = frozenset(
        {"SAVE", "LOAD", "ROLLBACK", "CHECKPOINTS", "BEGIN", "COMMIT"})
    _WAL_FILE = "wal.json"

    def _wal_append(self, cmd: str, head: "Optional[str]" = None) -> None:
        """Journal a mutating command to the armed snapshot's WAL. The log
        is a JSON array rewritten through the atomic manifest writer on
        every mutation — O(n) per append at session scale, but each write
        is whole-file + rename, so a crash leaves either the previous or
        the new log, never a torn one (Hadoop local/Checksum FS has no
        append, which rules out a true appending log here)."""
        if self._wal_path is None or self._wal_replaying:
            return
        if (head or cmd.split(None, 1)[0].upper()) in self._WAL_EXCLUDED:
            return
        if self._tx_fork is not None:
            # open transaction: hold the journal until COMMIT (one atomic
            # whole-file publish), so a crash mid-tx — or a ROLLBACK —
            # leaves NO uncommitted command in the durable log and
            # recovery replays only committed work
            self._tx_wal_buffer.append(cmd)
            return
        self._wal_entries.append(cmd)
        self._wal_write()

    def _wal_write(self) -> None:
        import os as _os

        self._manifest_write(
            _os.path.join(self._wal_path, self._WAL_FILE),
            {"format": "neumann_spark_wal/1",
             "epoch": getattr(self, "_wal_epoch", ""),
             "commands": self._wal_entries},
        )

    def _wal_read(self, path: str) -> list[str]:
        import os as _os

        log = self._manifest_read(_os.path.join(path, self._WAL_FILE))
        if log is None:
            return []
        if (not isinstance(log, dict)
                or log.get("format") != "neumann_spark_wal/1"
                or not isinstance(log.get("commands"), list)):
            raise ValueError(f"corrupt WAL at {path!r}")
        # epoch check: the log must belong to the CURRENT snapshot (its
        # data_dir nonce). A mismatched epoch means a re-save published a
        # newer snapshot before its WAL reset landed — the snapshot
        # already contains those commands' effects, so the stale log
        # replays as empty rather than double-applying.
        manifest = self._manifest_read(
            _os.path.join(path, self._SNAPSHOT_MANIFEST))
        # a log with NO epoch key predates epoch tagging (legacy writer):
        # replay it as before — only a PRESENT-but-mismatched epoch marks
        # the stale-log-next-to-newer-snapshot crash window
        if (isinstance(manifest, dict) and "epoch" in log
                and log.get("epoch") != manifest.get("data_dir")):
            return []
        return [str(c) for c in log["commands"]]

    # -- query-result cache (`query_router/src/lib.rs:1931-1961`) ---------

    def _is_write(self, head: str, cmd: str) -> bool:
        if head not in self.WRITES:
            return False
        if head in ("NODE", "EDGE", "EMBED", "ENTITY", "CONSTRAINT"):
            sub = (cmd.split(None, 2) + ["", ""])[1].upper()
            return sub not in self.READ_SUBS
        if head == "GRAPH":
            # algorithm verbs are reads; only the index registry mutates —
            # it is part of the snapshot manifest, so it must invalidate
            # and journal like any other snapshot-persisted state
            return bool(re.match(r"GRAPH\s+INDEX\s+(CREATE|DROP)", cmd, re.I))
        return True

    def _cache_store(self, cmd: str, out: DataFrame) -> None:
        """Memoize the frame, unpersisted: the cache fills on first re-use
        (`execute`'s hit branch persists, so the second run materializes
        into Spark's block cache and later runs are memory-speed — the
        Spark analogue of the reference's result-map cache). Under AQE a
        persisted frame's fill is its own query-stage job, so persisting
        here would charge that job to every one-off read. Bounded LRU;
        evicted/invalidated entries release their storage."""
        self._cache[cmd] = out
        while len(self._cache) > self.CACHE_MAX:
            _, old = self._cache.popitem(last=False)
            if old.is_cached:
                old.unpersist(False)

    def _cache_clear(self) -> None:
        for df in self._cache.values():
            if df.is_cached:
                df.unpersist(False)
        self._cache.clear()

    # -- paginated cursor tokens (`query_router/src/cursor.rs:1-435`) -----

    DEFAULT_PAGE_SIZE = 100   # CursorState::DEFAULT_PAGE_SIZE
    DEFAULT_TTL_SECS = 300    # CursorState::DEFAULT_TTL_SECS
    MAX_TTL_SECS = 1800       # CursorState::MAX_TTL_SECS

    def open_cursor(self, command: str, page_size: int = DEFAULT_PAGE_SIZE,
                    ttl_secs: int = DEFAULT_TTL_SECS) -> str:
        """Open a paginated cursor over a command's result and return an
        opaque resume token (`CursorState::encode`, cursor.rs:146-154 —
        base64url JSON here instead of bitcode). The result is materialized
        once (localCheckpoint), so every page reads the same snapshot —
        the analog of the reference buffering the result set; pages are
        offset/limit slices of the pinned partitions, not re-executions."""
        import uuid

        # page_size >= 1 or the token never advances (empty pages with
        # next_off == offset would spin a drain loop forever); ttl floored
        # at 0 so a negative TTL can't expire every token at birth
        page_size = max(1, int(page_size))
        ttl_secs = min(max(0, int(ttl_secs)), self.MAX_TTL_SECS)
        df = self.execute(command).localCheckpoint(eager=True)
        cur_id = str(uuid.uuid4())
        # ttl + last-access live server-side and are authoritative: the
        # token is unsigned client-held JSON, so its copies are display-only
        # and a client-edited token cannot extend a cursor's life
        self._cursors[cur_id] = {
            "df": df, "total": df.count(),
            "ttl_secs": ttl_secs, "last_accessed_at": int(self._now()),
        }
        return self._encode_cursor({
            "id": cur_id, "offset": 0, "page_size": page_size,
            "ttl_secs": ttl_secs, "last_accessed_at": int(self._now()),
        })

    def fetch_page(self, token: str) -> "tuple[DataFrame, Optional[str]]":
        """One page for a cursor token → (page DataFrame, next token or
        None when exhausted). Expired or unknown tokens raise (cursor.rs
        `is_expired`:134-139 — TTL measured from last access, so an active
        consumer never expires mid-scan)."""
        st = self._decode_cursor(token)
        # tokens are unsigned client-held JSON: re-clamp the numeric fields
        # so an edited token can't stall pagination (page_size=0) or crash
        # the slice (negative offset); ttl/last-access come from the
        # server-side entry (authoritative), never from the token
        st["page_size"] = max(1, int(st.get("page_size", self.DEFAULT_PAGE_SIZE)))
        st["offset"] = max(0, int(st.get("offset", 0)))
        now = int(self._now())
        ent = self._cursors.get(st["id"])
        if ent is None:
            raise KeyError(f"unknown cursor {st['id']}")
        if now - ent["last_accessed_at"] > ent["ttl_secs"]:
            self._close_cursor(st["id"])
            raise ValueError(f"cursor {st['id']} expired")
        ent["last_accessed_at"] = now
        page = ent["df"].offset(st["offset"]).limit(st["page_size"])
        next_off = st["offset"] + st["page_size"]
        if next_off >= ent["total"]:
            # materialize the final page BEFORE releasing the cursor's
            # checkpoint blocks — the returned frame must not depend on
            # storage the close just scheduled for removal
            page = page.localCheckpoint(eager=True)
            self._close_cursor(st["id"])
            return page, None
        nxt = dict(st, offset=next_off, last_accessed_at=now)
        return page, self._encode_cursor(nxt)

    def _close_cursor(self, cur_id: str) -> None:
        ent = self._cursors.pop(cur_id, None)
        if ent is not None:
            ent["df"].unpersist(False)

    @staticmethod
    def _now() -> float:
        import time

        return time.time()

    @staticmethod
    def _encode_cursor(state: dict) -> str:
        import base64
        import json

        raw = json.dumps(state, sort_keys=True).encode()
        return base64.urlsafe_b64encode(raw).rstrip(b"=").decode()

    @staticmethod
    def _decode_cursor(token: str) -> dict:
        import base64
        import json

        try:
            pad = "=" * (-len(token) % 4)
            return json.loads(base64.urlsafe_b64decode(token + pad))
        except Exception as e:  # noqa: BLE001 — any malformed token
            raise ValueError(f"invalid cursor token: {e}") from e

    def execute_streaming(self, command: str, batch_size: int = 1000) -> Iterator[list]:
        """Batch-fetch cursor over a large result
        (`relational_engine/src/cursor.rs` StreamingCursor): yields row
        batches without materializing the result on the driver."""
        it = self.execute(command).toLocalIterator()
        batch: list = []
        for row in it:
            batch.append(row)
            if len(batch) >= batch_size:
                yield batch
                batch = []
        if batch:
            yield batch

    # -- relational DDL/DML ----------------------------------------------

    def _exec_create(self, cmd: str) -> DataFrame:
        im = re.match(r"CREATE\s+INDEX\s+(\w+)\s+ON\s+(\w+)\s*\((\w+)\)\s*$",
                      cmd, re.I)
        if im:
            # CREATE INDEX (`neumann_parser` CreateIndexStmt): a scan engine
            # has no secondary index; declared and tracked (the partitioning/
            # sort-order concern is noted in SURVEY.md §2.1), like GRAPH INDEX
            self._graph_indexes[f"sql:{im.group(1)}"] = (
                f"{im.group(2)}({im.group(3)})")
            return local_df(self.spark,
                [(im.group(1), "created")], "index string, status string")
        m = re.match(r"CREATE\s+TABLE\s+(\w+)\s*\((.+)\)\s*$", cmd, re.I | re.S)
        if not m:
            raise ValueError("expected CREATE TABLE name (col type, ...)")
        name, cols = m.group(1), m.group(2)
        # `id INT` (parser) and `id:INT` (integration-test dialect,
        # `integration_tests/tests/cross_engine.rs`) both accepted.
        # Constraints are ENFORCED, at write time, as relational joins —
        # FOREIGN KEY + referential actions (`relational_engine/src/lib.rs:
        # 165-258`), PRIMARY KEY (unique + not null), UNIQUE, NOT NULL
        # (`:235-258` Constraint; violations `:1397-1432`), DEFAULT
        # (applied to keyed inserts and SET DEFAULT actions). CHECK parses
        # but is not enforced (the reference's engine Constraint enum has
        # no Check variant either — parser-only surface).
        _ACTIONS = r"RESTRICT|CASCADE|SET\s+NULL|SET\s+DEFAULT|NO\s+ACTION"
        col_defs: list[str] = []
        fks: list[dict] = []
        uniques: list[dict] = []
        not_null: list[str] = []
        defaults: dict[str, object] = {}

        def norm_action(a: Optional[str]) -> str:
            return re.sub(r"\s+", "_", (a or "RESTRICT").upper())

        for c in self._split_top_level(cols):
            fkm = re.match(
                r"(?:CONSTRAINT\s+(\w+)\s+)?FOREIGN\s+KEY\s*\(([^)]+)\)\s*"
                rf"REFERENCES\s+(\w+)\s*(?:\(([^)]+)\))?"
                rf"(?:\s+ON\s+DELETE\s+({_ACTIONS}))?"
                rf"(?:\s+ON\s+UPDATE\s+({_ACTIONS}))?\s*$",
                c.strip(), re.I)
            if fkm:
                fk_cols = [x.strip() for x in fkm.group(2).split(",")]
                ref_cols = ([x.strip() for x in fkm.group(4).split(",")]
                            if fkm.group(4) else fk_cols)
                fks.append({
                    "name": fkm.group(1) or f"fk_{name}_{fk_cols[0]}",
                    "columns": fk_cols,
                    "ref_table": fkm.group(3),
                    "ref_columns": ref_cols,
                    "on_delete": norm_action(fkm.group(5)),
                    "on_update": norm_action(fkm.group(6)),
                })
                continue
            pkm = re.match(
                r"(?:CONSTRAINT\s+(\w+)\s+)?"
                r"(PRIMARY\s+KEY|UNIQUE)\s*\(([^)]+)\)\s*$", c.strip(), re.I)
            if pkm:
                u_cols = [x.strip() for x in pkm.group(3).split(",")]
                is_pk = pkm.group(2).upper().startswith("PRIMARY")
                uniques.append({
                    "name": pkm.group(1)
                    or f"{'pk' if is_pk else 'uq'}_{name}_{u_cols[0]}",
                    "columns": u_cols, "pk": is_pk,
                })
                if is_pk:
                    not_null.extend(u_cols)
                continue
            parts = re.split(r"[:\s]+", c.strip())
            col_defs.append(f"{parts[0]} {self._lower_type(parts[1])}")
            if re.search(r"\bPRIMARY\s+KEY\b", c, re.I):
                uniques.append({"name": f"pk_{name}_{parts[0]}",
                                "columns": [parts[0]], "pk": True})
                not_null.append(parts[0])
            elif re.search(r"\bUNIQUE\b", c, re.I):
                uniques.append({"name": f"uq_{name}_{parts[0]}",
                                "columns": [parts[0]], "pk": False})
            if re.search(r"\bNOT\s+NULL\b", c, re.I):
                not_null.append(parts[0])
            dm = re.search(
                r"\bDEFAULT\s+('(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"|[\w.+-]+)",
                c, re.I)
            if dm:
                defaults[parts[0]] = self._parse_default_literal(dm.group(1))
            # column-level `col TYPE REFERENCES other(refcol) [actions]`
            rm = re.search(
                rf"REFERENCES\s+(\w+)\s*(?:\((\w+)\))?"
                rf"(?:\s+ON\s+DELETE\s+({_ACTIONS}))?"
                rf"(?:\s+ON\s+UPDATE\s+({_ACTIONS}))?",
                c, re.I)
            if rm:
                fks.append({
                    "name": f"fk_{name}_{parts[0]}",
                    "columns": [parts[0]],
                    "ref_table": rm.group(1),
                    "ref_columns": [rm.group(2) or parts[0]],
                    "on_delete": norm_action(rm.group(3)),
                    "on_update": norm_action(rm.group(4)),
                })

        schema = ", ".join(col_defs)
        df = local_df(self.spark, [], schema)
        self._tables[name] = df
        if fks:
            self._fks[name] = fks
        if uniques or not_null or defaults:
            self._table_constraints[name] = {
                "uniques": uniques,
                "not_null": sorted(set(not_null)),
                "defaults": defaults,
            }
        df.createOrReplaceTempView(name)
        return local_df(self.spark, [(name, "created")], "table string, status string")

    @staticmethod
    def _parse_default_literal(tok: str):
        """A DEFAULT literal: quoted string, number, boolean, or NULL."""
        if tok[0] in "'\"":
            try:
                return ast.literal_eval(tok)
            except (ValueError, SyntaxError) as e:
                # typed error contract: a malformed quoted literal must not
                # leak ast's SyntaxError through execute()
                raise ValueError(f"malformed string literal: {tok!r}") from e
        up = tok.upper()
        if up == "NULL":
            return None
        if up in ("TRUE", "FALSE"):
            return up == "TRUE"
        try:
            return ast.literal_eval(tok)
        except (ValueError, SyntaxError):
            return tok

    @staticmethod
    def _split_top_level(body: str) -> list[str]:
        """Split on commas outside parentheses/brackets/quotes — the comma
        depth a SQL list needs, shared by CREATE TABLE column defs (so
        `FOREIGN KEY (a, b) REFERENCES t(x, y)` stays one item) and UPDATE
        SET expressions (CASE WHEN / IN-lists / calls). Backslash-escaped
        characters inside a string literal don't toggle the quote state;
        items are stripped and empties dropped."""
        items: list[str] = []
        cur: list[str] = []
        depth = 0
        quote: str | None = None
        esc = False
        for ch in body:
            if quote:
                if esc:
                    esc = False
                elif ch == "\\":
                    esc = True
                elif ch == quote:
                    quote = None
            elif ch in "'\"":
                quote = ch
            elif ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            elif ch == "," and depth == 0:
                items.append("".join(cur))
                cur = []
                continue
            cur.append(ch)
        items.append("".join(cur))
        return [i for i in (s.strip() for s in items) if i]

    @staticmethod
    def _lower_type(t: str) -> str:
        """Parser DataTypes collapse onto engine types (SURVEY.md §1.2) —
        here onto Spark types, a superset of the reference's 6."""
        t = t.upper()
        mapping = {
            "INT": "bigint", "INTEGER": "bigint", "BIGINT": "bigint",
            "SMALLINT": "int", "FLOAT": "double", "DOUBLE": "double",
            "REAL": "double", "TEXT": "string", "VARCHAR": "string",
            "CHAR": "string", "BOOLEAN": "boolean", "BOOL": "boolean",
            "DATE": "date", "TIMESTAMP": "timestamp", "BLOB": "binary",
            "JSON": "string",
        }
        return mapping.get(re.sub(r"\(.*", "", t), "string")

    def _exec_insert(self, cmd: str) -> DataFrame:
        m = re.match(r"INSERT\s+INTO\s+(\w+)\s+VALUES\s*(.+)$", cmd, re.I | re.S)
        if not m:
            # the integration tests' keyed form `INSERT t k=v, k=v`
            # (`integration_tests/tests/client_server.rs:157`)
            km = re.match(r"INSERT\s+(\w+)\s+(\w+\s*=.+)$", cmd, re.I | re.S)
            if km and km.group(1) in self._tables:
                name = km.group(1)
                props = self._parse_props(km.group(2).replace("=", ":"))
                cols = self._tables[name].columns
                unknown = set(props) - set(cols)
                if unknown:
                    raise ValueError(f"unknown columns {sorted(unknown)} in {name!r}")
                # unsupplied columns take their DEFAULT (reference column
                # defaults, `neumann_parser` ColumnConstraint::Default)
                defaults = self._table_constraints.get(name, {}).get("defaults", {})
                row = tuple(
                    props[c] if c in props else defaults.get(c) for c in cols
                )
                new = local_df(self.spark, [row], self._tables[name].schema)
                self._check_fk_inserts(name, new)
                self._check_table_constraints(name, new)
                self._tables[name] = self._tables[name].unionAll(new)
                self._tables[name].createOrReplaceTempView(name)
                return local_df(self.spark,
                    [(name, 1)], "table string, inserted bigint"
                )
            raise ValueError(
                "expected INSERT INTO name VALUES (...), (...) or INSERT name k=v, ...")
        name = m.group(1)
        if name not in self._tables:
            raise KeyError(f"unknown session table {name!r}")
        rows = self._parse_values(m.group(2))
        new = local_df(self.spark, list(rows), self._tables[name].schema)
        self._check_fk_inserts(name, new)
        self._check_table_constraints(name, new)
        self._tables[name] = self._tables[name].unionAll(new)
        self._tables[name].createOrReplaceTempView(name)
        return local_df(self.spark,
            [(name, len(rows))], "table string, inserted bigint"
        )

    # -- foreign keys (`relational_engine/src/lib.rs:165-258` constraint
    #    model; `:5209-5242` validate_fk_reference; errors `:1415-1432`) --

    def _check_fk_inserts(self, name: str, new: DataFrame) -> None:
        """Insert-side FK validation: every non-NULL FK tuple must exist in
        the referenced table (NULLs pass, as in `validate_fk_reference`).
        The BATCH keys are the broadcast side — the referenced table can be
        arbitrarily large, so it is probed with a semi-join (never
        broadcast, never shuffled) and the found-key count compares against
        the batch's distinct keys."""
        for fk in self._fks.get(name, ()):
            ref = self._session_table(fk["ref_table"])
            if fk["ref_table"] == name:
                # self-referential FK: the constraint holds at end of
                # statement, so rows may reference keys in the same batch
                ref = ref.unionAll(new)
            probe = new
            for c in fk["columns"]:
                probe = probe.filter(F.col(c).isNotNull())
            probe_keys = probe.select(*fk["columns"]).distinct()
            found = (
                ref.select(
                    *[F.col(rc).alias(c)
                      for c, rc in zip(fk["columns"], fk["ref_columns"])]
                ).join(F.broadcast(probe_keys), fk["columns"], "semi")
                .select(*fk["columns"]).distinct()
                .agg(F.count("*").alias("found"))
            )
            # ONE action (was two: a batch-key count + a found-key count):
            # both 1-row aggregates cross-joined and collected together —
            # the referenced table stays the probe side of a broadcast
            # semi-join, never shuffled (r13; guide §1.2: per-statement
            # validation latency is action-count-dominated)
            row = probe_keys.agg(F.count("*").alias("n_keys")).crossJoin(
                found).collect()[0]
            if row["found"] < row["n_keys"]:
                raise ValueError(
                    f"foreign key violation: constraint {fk['name']!r} — "
                    f"{row['n_keys'] - row['found']} key(s) reference missing "
                    f"{fk['ref_table']}({', '.join(fk['ref_columns'])})")

    def _check_table_constraints(
        self, name: str, new: DataFrame, existing: Optional[DataFrame] = None
    ) -> None:
        """PRIMARY KEY / UNIQUE / NOT NULL validation for a write batch
        (`relational_engine/src/lib.rs:5002` — insert returns
        PrimaryKeyViolation/UniqueViolation; `:252-258` NotNull). INSERT
        passes the new rows (stored side = the whole table); UPDATE passes
        the new VERSIONS of the matched rows with `existing` = the
        untouched rows, so in-place rewrites obey the same invariants.

        Scale shape: ALL NOT NULL columns check in one aggregate over the
        batch; each uniqueness check is one groupBy over the batch plus one
        semi-join of the (broadcast) batch keys against the stored side —
        the batch is the small side, so the stored table never shuffles.
        UNIQUE follows SQL semantics (NULL tuples exempt); PRIMARY KEY
        columns are also registered NOT NULL at CREATE time."""
        tc = self._table_constraints.get(name)
        if not tc:
            return
        if existing is None:
            existing = self._tables[name]
        # ALL checks fold into ONE collected row (r13; was 1 + 2/unique
        # actions — guide §1.2: small-write validation is action-count-
        # dominated). Over the batch: per-NOT-NULL null counts, and per-
        # unique "rows with a fully non-null key" minus "distinct keys"
        # (> 0 iff some key repeats in the batch — same predicate the old
        # groupBy/filter/count answered). Per-unique stored-side clashes
        # join as broadcast-semi 1-row aggregates: the stored table stays
        # the probe side, never shuffled.
        aggs = [
            F.sum(F.col(c).isNull().cast("int")).alias(f"nn_{i}")
            for i, c in enumerate(tc["not_null"])
        ]
        for i, u in enumerate(tc["uniques"]):
            ucols = u["columns"]
            keyed = None
            for c in ucols:
                nn = F.col(c).isNotNull()
                keyed = nn if keyed is None else (keyed & nn)
            aggs.append(
                (F.sum(keyed.cast("long"))
                 - F.count_distinct(*[F.col(c) for c in ucols])
                 ).alias(f"dup_{i}")
            )
        if not aggs:
            return
        row = new.agg(*aggs)
        for i, u in enumerate(tc["uniques"]):
            ucols = u["columns"]
            probe = new
            for c in ucols:
                probe = probe.filter(F.col(c).isNotNull())
            clash = existing.join(
                F.broadcast(probe.select(*ucols).distinct()), ucols, "semi"
            ).agg(F.count("*").alias(f"clash_{i}"))
            row = row.crossJoin(clash)
        vals = row.collect()[0]
        for i, col in enumerate(tc["not_null"]):
            if vals[f"nn_{i}"]:
                raise ValueError(
                    f"not-null violation: column {col!r} of {name!r} "
                    f"({vals[f'nn_{i}']} row(s))")
        for i, u in enumerate(tc["uniques"]):
            if (vals[f"dup_{i}"] or 0) or vals[f"clash_{i}"]:
                kind = "primary key" if u["pk"] else "unique"
                raise ValueError(
                    f"{kind} violation: constraint {u['name']!r} on "
                    f"{name}({', '.join(u['columns'])})")

    MAX_FK_CASCADE_DEPTH = 32

    def _validate_staged_child(self, child: str, new_df: DataFrame) -> None:
        """A referential-action rewrite must leave the child satisfying its
        OWN declared constraints — SET NULL writing into a NOT NULL column,
        or SET DEFAULT collapsing several rows onto one UNIQUE key, was
        silently committed before. Validates the whole staged frame (batch
        = table, stored side = empty): strictly stronger than checking the
        rewritten subset, and the raise aborts the statement atomically
        (staged state is discarded). At 100 TB, restrict the probe to the
        rewritten subset joined against the untouched rows."""
        if not self._table_constraints.get(child):
            return
        empty = local_df(self.spark, [], new_df.schema)
        self._check_table_constraints(child, new_df, existing=empty)

    def _apply_fk_on_delete(
        self, name: str, deleted: DataFrame, staged: dict[str, DataFrame]
    ) -> None:
        """Delete-side referential actions against the rows being removed
        from `name`: RESTRICT/NO_ACTION error out, CASCADE deletes the
        referencing rows, SET_NULL nulls the referencing columns. Each
        action is one join against the (small, broadcast) deleted-key set.

        All table rewrites go into `staged` (committed by the caller only
        after the whole pass succeeds), so a RESTRICT discovered deep in a
        cascade chain aborts the statement atomically — no partial cascade
        ever reaches session state. Cascades resolve to a fixpoint via a
        worklist: every batch of rows a CASCADE removes is re-enqueued with
        its depth so chained FKs (grandchildren) and self-referential FKs
        both propagate; the cap is on chain DEPTH (wide trees enqueue many
        batches per level legitimately), guarding pathological cyclic data.
        Cascaded batches are empty-checked before enqueueing, so acyclic
        chains terminate when a level removes nothing."""

        def current(tbl: str) -> DataFrame:
            return staged.get(tbl, self._tables[tbl])

        work: list[tuple[str, DataFrame, int]] = [(name, deleted, 0)]
        while work:
            tbl, doomed, depth = work.pop()
            if depth > self.MAX_FK_CASCADE_DEPTH:
                raise ValueError(
                    f"FK cascade exceeded depth {self.MAX_FK_CASCADE_DEPTH} "
                    f"— cyclic referential actions?")
            for child, fks in list(self._fks.items()):
                for fk in fks:
                    if fk["ref_table"] != tbl or child not in self._tables:
                        continue
                    keys = doomed.select(
                        *[F.col(rc).alias(c)
                          for c, rc in zip(fk["columns"], fk["ref_columns"])]
                    ).distinct()
                    child_df = current(child)
                    hit = child_df.join(F.broadcast(keys), fk["columns"], "semi")
                    action = fk["on_delete"]
                    if action in ("RESTRICT", "NO_ACTION"):
                        n = hit.count()
                        if n:
                            raise ValueError(
                                f"foreign key restrict: {n} row(s) in "
                                f"{child!r} reference deleted rows of {tbl!r} "
                                f"(constraint {fk['name']!r})")
                    elif action == "CASCADE":
                        # pin the removed batch before staging the rewrite:
                        # the enqueued frame must see pre-cascade contents
                        hit_rows = hit.localCheckpoint(eager=True)
                        if hit_rows.count():
                            staged[child] = child_df.join(
                                F.broadcast(keys), fk["columns"], "left_anti")
                            work.append((child, hit_rows, depth + 1))
                    elif action in ("SET_NULL", "SET_DEFAULT"):
                        # SET DEFAULT (`ReferentialAction::SetDefault`,
                        # lib.rs:176): the column default if declared, else
                        # NULL (SQL's implicit default). A non-NULL default
                        # must itself satisfy the FK against the SURVIVING
                        # parent — validated below against staged state.
                        repl = (
                            self._table_constraints.get(child, {})
                            .get("defaults", {})
                            if action == "SET_DEFAULT" else {}
                        )
                        marked = child_df.join(
                            F.broadcast(keys.withColumn("_fk_hit", F.lit(True))),
                            fk["columns"], "left")
                        sets = {
                            c: F.when(F.col("_fk_hit"), F.lit(repl.get(c)))
                            .otherwise(F.col(c)).alias(c)
                            for c in fk["columns"]
                        }
                        staged[child] = marked.select(
                            *[sets.get(c, F.col(c)) for c in child_df.columns])
                        if action == "SET_DEFAULT":
                            self._check_default_tuple_fk(
                                child, fk, repl, current(fk["ref_table"]))
                        self._validate_staged_child(child, staged[child])

    @staticmethod
    def _parse_values(body: str) -> list[tuple]:
        """Parse a VALUES clause of literal rows with `ast.literal_eval`
        (never eval: command text is user input). Each parenthesized group
        is one row, so single-column multi-row `(1), (2)` yields two rows —
        not Python's scalar collapse of `(1)` to `1`."""
        body = body.rstrip(";").strip()
        if not (body.startswith("(") and body.endswith(")")):
            raise ValueError("expected VALUES (...), (...)")
        rows = []
        for part in re.split(r"\)\s*,\s*\(", body[1:-1]):
            try:
                # trailing comma forces a tuple even for one element
                rows.append(ast.literal_eval(f"({part},)"))
            except (ValueError, SyntaxError) as e:
                raise ValueError(f"VALUES rows must be literals: ({part})") from e
        return rows

    def _exec_drop(self, cmd: str) -> DataFrame:
        im = re.match(r"DROP\s+INDEX\s+(\w+)\s*$", cmd, re.I)
        if im:
            self._graph_indexes.pop(f"sql:{im.group(1)}", None)
            return local_df(self.spark,
                [(im.group(1), "dropped")], "index string, status string")
        m = self._require(re.match(r"DROP\s+TABLE\s+(\w+)", cmd, re.I),
                          "DROP TABLE name")
        name = m.group(1)
        self._tables.pop(name, None)
        self._fks.pop(name, None)
        self._table_constraints.pop(name, None)
        self.spark.catalog.dropTempView(name)
        if name in TABLES:
            # the dropped session table shadowed a fixture: re-register the
            # fixture view (same un-shadow the LOAD path performs) instead
            # of leaving the name session-globally unresolvable
            load(self.spark, self.sf_dir, name).createOrReplaceTempView(name)
        return local_df(self.spark, [(name, "dropped")], "table string, status string")

    def _exec_alter(self, cmd: str) -> DataFrame:
        """ALTER TABLE add/drop/rename column on session tables
        (`relational_engine/src/lib.rs:4807,4844,4935`). New columns are
        NULL-filled, the columnar-append semantics of the reference."""
        m = self._require(
            re.match(
                r"ALTER\s+TABLE\s+(\w+)\s+"
                r"(?:(ADD)\s+COLUMN\s+(\w+)\s+(\w+)"
                r"|(DROP)\s+COLUMN\s+(\w+)"
                r"|(RENAME)\s+COLUMN\s+(\w+)\s+TO\s+(\w+))\s*$",
                cmd,
                re.I,
            ),
            "ALTER TABLE t ADD COLUMN c type | DROP COLUMN c | "
            "RENAME COLUMN a TO b",
        )
        name = m.group(1)
        if name not in self._tables:
            raise KeyError(f"unknown session table {name!r}")
        df = self._tables[name]
        if m.group(2):  # ADD
            col, typ = m.group(3), self._lower_type(m.group(4))
            df = df.withColumn(col, F.lit(None).cast(typ))
            action = f"added {col}"
        elif m.group(5):  # DROP
            col = m.group(6)
            if col not in df.columns:
                raise ValueError(f"no column {col!r} in {name!r}")
            df = df.drop(col)
            action = f"dropped {col}"
        else:  # RENAME
            old, new = m.group(8), m.group(9)
            if old not in df.columns:
                raise ValueError(f"no column {old!r} in {name!r}")
            df = df.withColumnRenamed(old, new)
            action = f"renamed {old} to {new}"
        self._tables[name] = df
        df.createOrReplaceTempView(name)
        return local_df(self.spark,
            [(name, action)], "table string, status string"
        )

    def _exec_show(self, cmd: str) -> DataFrame:
        if re.match(r"SHOW\s+TABLES", cmd, re.I):
            names = sorted(set(TABLES) | set(self._tables))
            return local_df(self.spark, [(n,) for n in names], "table string")
        m = re.match(r"SHOW\s+EMBEDDINGS(?:\s+LIMIT\s+(\d+))?\s*$", cmd, re.I)
        if m:
            # `SHOW EMBEDDINGS [LIMIT n]` (`neumann_parser` ShowEmbeddings)
            out = self._embeddings.select(
                "key", F.size("embedding").alias("dimension")
            ).orderBy("key")
            return out.limit(int(m.group(1))) if m.group(1) else out
        if re.match(r"SHOW\s+VECTOR\s+INDEX\s*$", cmd, re.I):
            # `SHOW VECTOR INDEX` (`neumann_parser` ShowVectorIndex): this
            # engine's "index" is the Catalyst scan + TakeOrdered plan
            # (brute exact) with LSH/IVF/PQ variants in pipeline/ann.py
            return self._embeddings.agg(
                F.lit("brute-force+ann(lsh,ivf,pq,sq,binary)").alias("index_type"),
                F.count("*").alias("vectors"),
                F.coalesce(F.first(F.size("embedding")), F.lit(0)).alias("dimension"),
            )
        return self.spark.sql(cmd)

    def _exec_count(self, cmd: str) -> DataFrame:
        """`COUNT EMBEDDINGS` (`neumann_parser` CountEmbeddings) and the
        examples' `COUNT <table>` row-count form
        (`examples/basic_relational.rs`)."""
        if re.match(r"COUNT\s+EMBEDDINGS\s*$", cmd, re.I):
            return self._embeddings.agg(F.count("*").alias("count"))
        m = self._require(re.match(r"COUNT\s+(\w+)\s*$", cmd, re.I),
                          "COUNT EMBEDDINGS | COUNT table")
        name = m.group(1)
        if name not in self._tables and name not in TABLES:
            raise KeyError(f"unknown table {name!r}")
        return self.spark.table(name).agg(F.count("*").alias("count"))

    # -- graph commands ---------------------------------------------------

    @staticmethod
    def _require(m: "Optional[re.Match]", expected: str) -> "re.Match":
        """Uniform malformed-command handling: ValueError, not AttributeError
        (the reference's parser errors are typed, `neumann_parser` Err)."""
        if m is None:
            raise ValueError(f"expected {expected}")
        return m

    def _check_graph_write_constraints(
        self, kind: str, new: DataFrame, store: Optional[DataFrame] = None
    ) -> None:
        """Write-time graph constraint validation (`graph_engine/src/lib.rs:
        3210-3240` — create_node/create_edge run validate_node_constraints
        on EVERY write, returning ConstraintViolation; checking only at
        CONSTRAINT CREATE would let later writes silently violate).
        Creates validate against the whole overlay; in-place updates pass
        `store` = the overlay MINUS the rewritten rows, so a row's new
        version doesn't clash with its own old version.

        Scale shape: the write batch is small, so within-batch duplicates
        are one groupBy over the batch and store clashes one semi-join of
        the broadcast batch keys against the overlay frame — the stored
        graph never shuffles."""
        target = "NODE" if kind == "node" else "EDGE"
        if store is None:
            store = self._nodes if kind == "node" else self._edges
        scope_col = "label" if kind == "node" else "edge_type"
        for name, (t, label, prop, ctype) in self._constraints.items():
            if t != target:
                continue
            batch, scoped = new, store
            if label:
                batch = batch.filter(F.col(scope_col) == label)
                scoped = scoped.filter(F.col(scope_col) == label)
            if ctype == "unique":
                vals = batch.filter(F.col(prop).isNotNull())
                dup = (
                    vals.groupBy(prop).count().filter(F.col("count") > 1).count()
                )
                clash = scoped.join(
                    F.broadcast(vals.select(prop).distinct()), prop, "semi"
                ).count()
                if dup or clash:
                    raise ValueError(
                        f"constraint {name!r} violated: duplicate value for "
                        f"property {prop!r} on {kind} write")
            elif ctype == "exists":
                nnull = batch.filter(F.col(prop).isNull()).count()
                if nnull:
                    raise ValueError(
                        f"constraint {name!r} violated: property {prop!r} "
                        f"missing on {nnull} {kind} row(s)")
            elif ctype.startswith("type:"):
                want = ctype.split(":", 1)[1]
                spark_t = self._lower_type(want)
                bad = batch.filter(
                    F.col(prop).isNotNull()
                    & F.expr(f"try_cast({prop} AS {spark_t})").isNull()
                ).count()
                if bad:
                    raise ValueError(
                        f"constraint {name!r} violated: {bad} value(s) of "
                        f"{prop!r} not castable to {want}")

    def _add_nodes(self, new: DataFrame) -> None:
        """All node-creating verbs funnel here: constraints first, then the
        overlay append."""
        self._check_graph_write_constraints("node", new)
        self._nodes = self._nodes.unionAll(new)

    def _add_edges(self, new: DataFrame) -> None:
        """All edge-creating verbs funnel here: constraints first, then the
        overlay append."""
        self._check_graph_write_constraints("edge", new)
        self._edges = self._edges.unionAll(new)

    def _exec_node(self, cmd: str) -> DataFrame:
        """NODE CREATE label {props} | GET id | DELETE id |
        LIST [label] [LIMIT n] [OFFSET m] (`neumann_parser` NodeOp), plus
        the shorthand `NODE id [label]`."""
        sub = (cmd.split(None, 2) + ["", ""])[1].upper()
        if sub == "CREATE":
            m = self._require(
                re.match(
                    r"NODE\s+CREATE\s+(\w+)\s*(?:\{(.*?)\}|((?:\w+\s*=\s*\S.*)))?\s*$",
                    cmd, re.I | re.S),
                "NODE CREATE label {props} | NODE CREATE label k='v', ...")
            label = m.group(1)
            # the examples' brace-less `name='Alice', role='dev'` form
            # (`examples/graph_traversal.rs`) normalizes onto the brace parser
            props_body = m.group(2) or (m.group(3) or "").replace("=", ":")
            props = self._parse_props(props_body)
            nid = int(props.get("id", self._next_node_id()))
            new = local_df(self.spark, [(nid, label)], "id bigint, label string")
            self._add_nodes(new)
            self._checkpoint_overlays()
            return new
        if sub == "GET":
            m = self._require(re.match(r"NODE\s+GET\s+(\d+)\s*$", cmd, re.I),
                              "NODE GET id")
            return self._nodes.filter(F.col("id") == int(m.group(1)))
        if sub == "DELETE":
            m = self._require(re.match(r"NODE\s+DELETE\s+(\d+)\s*$", cmd, re.I),
                              "NODE DELETE id")
            nid = int(m.group(1))
            self.delete_node(nid, detach=True)
            return local_df(self.spark,
                [(nid, "deleted")], "id bigint, status string")
        if sub in ("LIST", "QUERY"):
            # NODE QUERY label (`examples/graph_traversal.rs`) = NODE LIST
            m = self._require(
                re.match(
                    r"NODE\s+(?:LIST|QUERY)(?:\s+(?!LIMIT|OFFSET)(\w+))?"
                    r"(?:\s+LIMIT\s+(\d+))?(?:\s+OFFSET\s+(\d+))?\s*$",
                    cmd, re.I),
                "NODE LIST [label] [LIMIT n] [OFFSET m]")
            out = self._nodes
            if m.group(1):
                out = out.filter(F.col("label") == m.group(1))
            out = out.orderBy("id")
            if m.group(3):
                out = out.offset(int(m.group(3)))
            if m.group(2):
                out = out.limit(int(m.group(2)))
            return out
        m = self._require(re.match(r"NODE\s+(\d+)(?:\s+(\w+))?", cmd, re.I),
                          "NODE id [label]")
        nid, label = int(m.group(1)), m.group(2) or "node"
        new = local_df(self.spark, [(nid, label)], "id bigint, label string")
        self._add_nodes(new)
        return new

    def _next_node_id(self) -> int:
        """Auto-assigned node id (`graph_engine` NodeId allocator): one
        1-row max aggregate — metadata-cheap at any scale."""
        row = self._nodes.agg(F.max("id").alias("m")).collect()[0]
        return int(row["m"] or 0) + 1

    def _exec_edge(self, cmd: str) -> DataFrame:
        """EDGE CREATE a -> b : type {props} | DELETE a -> b [: type] |
        LIST [type] [LIMIT n] [OFFSET m] (`neumann_parser` EdgeOp), plus the
        shorthand `EDGE src dst [type] [weight]`."""
        sub = (cmd.split(None, 2) + ["", ""])[1].upper()
        if sub == "CREATE":
            # colon form `a -> b : type {props}` (parser) and the examples'
            # bare form `a -> b TYPE` (`examples/graph_traversal.rs`)
            m = self._require(
                re.match(
                    r"EDGE\s+CREATE\s+(\d+)\s*->\s*(\d+)\s*:?\s*(\w+)"
                    r"\s*(?:\{(.*?)\})?\s*$",
                    cmd, re.I | re.S),
                "EDGE CREATE a -> b [:] type {props}")
            src, dst, etype = int(m.group(1)), int(m.group(2)), m.group(3)
            w = float(self._parse_props(m.group(4)).get("weight", 1.0))
            new = local_df(self.spark,
                [(src, dst, etype, w)],
                "src bigint, dst bigint, edge_type string, weight double")
            self._add_edges(new)
            self._checkpoint_overlays()
            return new
        if sub == "DELETE":
            m = self._require(
                re.match(r"EDGE\s+DELETE\s+(\d+)\s*->\s*(\d+)(?:\s*:\s*(\w+))?\s*$",
                         cmd, re.I),
                "EDGE DELETE a -> b [: type]")
            self.delete_edge(int(m.group(1)), int(m.group(2)), m.group(3))
            return local_df(self.spark,
                [(int(m.group(1)), int(m.group(2)), "deleted")],
                "src bigint, dst bigint, status string")
        if sub == "LIST":
            m = self._require(
                re.match(
                    r"EDGE\s+LIST(?:\s+(?!LIMIT|OFFSET)(\w+))?"
                    r"(?:\s+LIMIT\s+(\d+))?(?:\s+OFFSET\s+(\d+))?\s*$",
                    cmd, re.I),
                "EDGE LIST [type] [LIMIT n] [OFFSET m]")
            out = self._edges
            if m.group(1):
                out = out.filter(F.col("edge_type") == m.group(1))
            out = out.orderBy("src", "dst", "edge_type")
            if m.group(3):
                out = out.offset(int(m.group(3)))
            if m.group(2):
                out = out.limit(int(m.group(2)))
            return out
        m = self._require(
            re.match(r"EDGE\s+(\d+)\s+(\d+)(?:\s+(\w+))?(?:\s+([\d.]+))?", cmd, re.I),
            "EDGE src dst [type] [weight]")
        src, dst = int(m.group(1)), int(m.group(2))
        etype, w = m.group(3) or "edge", float(m.group(4) or 1.0)
        new = local_df(self.spark,
            [(src, dst, etype, w)], "src bigint, dst bigint, edge_type string, weight double"
        )
        self._add_edges(new)
        return new

    def _exec_neighbors(self, cmd: str) -> DataFrame:
        """`NEIGHBORS id [OUTGOING|INCOMING|BOTH] [: type]
        [BY SIMILARITY LIMIT k]` (`neumann_parser` NeighborsStmt: direction,
        edge-type filter, cross-engine BY SIMILARITY)."""
        m = self._require(
            re.match(
                r"NEIGHBORS\s+'?(\d+)'?(?:\s+(OUTGOING|OUT|INCOMING|IN|BOTH))?"
                r"(?:\s*:\s*(\w+))?(?:\s+(BY\s+SIMILARITY))?"
                r"(?:\s+LIMIT\s+(\d+))?\s*$",
                cmd, re.I),
            "NEIGHBORS id [OUTGOING|INCOMING|BOTH] [: type] "
            "[BY SIMILARITY] [LIMIT k]")
        nid = int(m.group(1))
        direction = (m.group(2) or "BOTH").upper()
        direction = {"OUT": "OUTGOING", "IN": "INCOMING"}.get(direction, direction)
        e = self._edges
        if m.group(3):
            e = e.filter(F.col("edge_type") == m.group(3))
        if direction == "OUTGOING":
            nbrs = e.filter(F.col("src") == nid)
        elif direction == "INCOMING":
            nbrs = e.filter(F.col("dst") == nid).select(
                F.col("dst").alias("src"), F.col("src").alias("dst"),
                "edge_type", "weight")
        else:
            nbrs = undirected_edges(e).filter(F.col("src") == nid)
        out = nbrs.join(self._nodes, nbrs.dst == self._nodes.id).select(
            F.col("dst").alias("neighbor_id"), "label", "edge_type", "weight"
        )
        if m.group(4):
            # rank neighbors by embedding similarity to the anchor
            # (`find_neighbors_by_similarity`, tensor_unified/src/lib.rs:1021)
            anchor = self._embeddings.filter(F.col("key") == str(nid)).head()
            if anchor is None:
                raise KeyError(f"no embedding for node {nid}")
            qv = [float(x) for x in anchor["embedding"]]
            cand = out.join(
                self._embeddings.withColumn(
                    "_nid", F.expr("try_cast(key AS BIGINT)")),
                out.neighbor_id == F.col("_nid"),
            ).select("neighbor_id", "label", "edge_type", "weight", "embedding")
            k = int(m.group(5) or 10)
            return knn(cand, "embedding", qv, k, "cosine",
                       id_cols=("neighbor_id", "label", "edge_type", "weight"))
        if m.group(5):
            out = out.orderBy("neighbor_id").limit(int(m.group(5)))
        return out

    def _exec_path(self, cmd: str) -> DataFrame:
        """`PATH [SHORTEST|ALL|WEIGHTED] a -> b [MAX d] [LIMIT n]`
        (`neumann_parser` PathStmt / PathAlgorithm), plus the shorthand
        `PATH a TO b [MAX d]`. WEIGHTED = bounded Bellman-Ford relaxation
        (the distributed Dijkstra analog). SHORTEST and ALL both answer
        the hop distance (`dist`, or `hops` for ALL) with `hop_distance`:
        a bidirectional BFS that holds the two frontiers on the driver and
        collects, per round, only the edges incident to them — one Spark
        job per two hops (`MAX 2` runs 1 job, `MAX 4` 2), where the
        whole-graph `bfs_levels` walk pays several jobs per hop."""
        m = self._require(
            re.match(
                r"PATH\s+(?:(SHORTEST|ALL|WEIGHTED)\s+)?'?(\d+)'?\s*"
                r"(?:->|TO)\s*'?(\d+)'?(?:\s+MAX\s+(\d+))?"
                r"(?:\s+LIMIT\s+(\d+))?\s*$",
                cmd, re.I),
            "PATH [SHORTEST|ALL|WEIGHTED] a -> b [MAX d] [LIMIT n]")
        algo = (m.group(1) or "SHORTEST").upper()
        a, b = int(m.group(2)), int(m.group(3))
        max_d = int(m.group(4) or 4)
        ue = undirected_edges(self._edges)
        if algo == "WEIGHTED":
            from neumann_spark.graph.traversal import bounded_dijkstra

            dist = bounded_dijkstra(ue, a, max_d)
            out = dist.filter(F.col("node") == b).select(
                "node", F.round("dist", 6).alias("dist"))
        else:
            d = hop_distance(ue, a, b, max_d)
            out = local_df(self.spark, [] if d is None else [(b, d)],
                           f"node bigint, {'hops' if algo == 'ALL' else 'dist'} int")
        if m.group(5):
            out = out.limit(int(m.group(5)))
        return out

    # -- vector commands --------------------------------------------------

    def _store_embedding(self, key: str, vals: list[float],
                         collection: Optional[str] = None) -> None:
        # dimension enforced per store, like the reference
        # (`vector_engine/src/lib.rs:1840-1895`); read by a job only when
        # `_embeddings` is not the frame the last store checked (delete,
        # clear, LOAD, ENTITY and overlay checkpoints reassign it)
        memo = self._emb_dim
        if memo is not None and memo[0] is self._embeddings:
            dim = memo[1]
        else:
            first = self._embeddings.select(F.size("embedding").alias("d")).head()
            dim = None if first is None else first["d"]
        if dim is not None and dim != len(vals):
            raise ValueError(
                f"dimension mismatch: store holds {dim}-d vectors, "
                f"got {len(vals)}"
            )
        new = local_df(self.spark,
            [(key, vals)], "key string, embedding array<float>")
        # single-key replace as a null-safe filter, not an anti-join: a
        # join against a local frame adds a broadcast-stage job to every
        # later read of the overlay (NULL keys survive either form)
        self._embeddings = self._embeddings.filter(
            ~F.col("key").eqNullSafe(key)).unionAll(new)
        self._emb_dim = (self._embeddings, len(vals))
        if collection:
            row = local_df(self.spark,
                [(key, collection)], "key string, collection string")
            self._emb_coll = self._emb_coll.filter(
                ~F.col("key").eqNullSafe(key)).unionAll(row)

    def _exec_embed(self, cmd: str) -> DataFrame:
        """EMBED STORE 'key' [vec] | GET 'key' | DELETE 'key' |
        BUILD INDEX | BATCH [('k', [..]), ...] [IN|INTO coll]
        (`neumann_parser` EmbedOp), plus the shorthand `EMBED key [vec]`."""
        cm = re.search(r"\s+(?:IN|INTO)\s+(\w+)\s*$", cmd, re.I)
        coll = cm.group(1) if cm else None
        if cm:
            cmd = cmd[: cm.start()]
        sub = (cmd.split(None, 2) + ["", ""])[1].upper()
        if sub == "STORE":
            m = self._require(
                re.match(r"EMBED\s+STORE\s+'?([\w:]+)'?\s+\[(.*?)\]\s*$",
                         cmd, re.I | re.S),
                "EMBED STORE 'key' [v1, v2, ...]")
            vals = [float(x) for x in m.group(2).split(",") if x.strip()]
            self._store_embedding(m.group(1), vals, coll)
            return local_df(self.spark,
                [(m.group(1), "stored")], "key string, status string")
        if sub == "GET":
            m = self._require(
                re.match(r"EMBED\s+GET\s+'?([\w:]+)'?\s*$", cmd, re.I),
                "EMBED GET 'key'")
            return self._embeddings.filter(F.col("key") == m.group(1))
        if sub == "DELETE":
            m = self._require(
                re.match(r"EMBED\s+DELETE\s+'?([\w:]+)'?\s*$", cmd, re.I),
                "EMBED DELETE 'key'")
            self.delete_embedding(m.group(1))
            return local_df(self.spark,
                [(m.group(1), "deleted")], "key string, status string")
        if sub == "BUILD":
            # EMBED BUILD INDEX — index construction is declarative here:
            # the ANN structures (LSH buckets / IVF lists / PQ codes,
            # pipeline/ann.py) build lazily from the store; acknowledge like
            # the reference's build_hnsw_index
            self._require(re.match(r"EMBED\s+BUILD\s+INDEX\s*$", cmd, re.I),
                          "EMBED BUILD INDEX")
            n = self._embeddings.count()
            return local_df(self.spark,
                [("built", n)], "status string, vectors bigint")
        if sub == "BATCH":
            m = self._require(
                re.match(r"EMBED\s+BATCH\s+\[(.*)\]\s*$", cmd, re.I | re.S),
                "EMBED BATCH [('k1', [v, ...]), ...]")
            body = m.group(1).strip()
            items: list[tuple] = []
            if body:
                try:
                    items = list(ast.literal_eval(f"[{body}]"))
                except (ValueError, SyntaxError) as e:
                    raise ValueError(
                        "EMBED BATCH items must be ('key', [floats]) literals"
                    ) from e
            for key, vec in items:
                self._store_embedding(str(key), [float(x) for x in vec], coll)
            return local_df(self.spark, [(len(items),)], "stored bigint")
        # bracketed `EMBED key [v, ...]` and the integration tests' bare
        # `EMBED key v, v, ...` form (`integration_tests/tests/find_command.rs:63`)
        m = self._require(
            re.match(r"EMBED\s+'?([\w:]+)'?\s+\[?([\d.,\s+eE-]+)\]?\s*$",
                     cmd, re.I | re.S),
            "EMBED key [v1, v2, ...]")
        vals = [float(x) for x in m.group(2).split(",")]
        self._store_embedding(m.group(1), vals, coll)
        return local_df(self.spark, [(m.group(1),)], "key string")

    def _exec_similar(self, cmd: str) -> DataFrame:
        """`SIMILAR 'key'|[vec] [TOP k|LIMIT k] [COSINE|EUCLIDEAN|DOT_PRODUCT]
        [CONNECTED TO id] [IN coll] [WHERE expr]` (`neumann_parser`
        SimilarStmt: key-or-vector query, metric, limit, cross-engine
        CONNECTED TO, collection scope, filtered search).

        Serving shape: EXACT brute top-k over the session's mutable
        string-keyed store — one map-side score + TakeOrderedAndProject,
        correct at any metric and under arbitrary WHERE filters. This is
        deliberate for the facade tier (a mutable per-session store,
        fixture-to-moderate cardinality); a corpus that outgrows it
        should be persisted as a (vec_id, embedding) table and served
        through the graph auto presets (`pipeline.ann.graph_auto_search`
        — budget ∝ N^0.85 with build-derived per-round width, the r11
        scale path), whose maintenance contract (knn_graph_insert/
        delete/CDC) covers the same mutability this store offers."""
        m = self._require(
            re.match(
                r"SIMILAR\s+(?:'?([\w:]+)'?|\[(.+?)\])"
                r"(?:\s+(?:TOP|LIMIT)\s+(\d+))?"
                r"(?:\s+(?:METRIC\s+)?(COSINE|EUCLIDEAN|DOT_PRODUCT))?"
                r"(?:\s+CONNECTED\s+TO\s+'?(\d+)'?)?"
                r"(?:\s+IN\s+(\w+))?"
                r"(?:\s+WHERE\s+(.+?))?\s*$",
                cmd,
                re.I | re.S,
            ),
            "SIMILAR 'key'|[vec] [TOP|LIMIT k] [metric] [CONNECTED TO id] "
            "[IN coll] [WHERE expr]")
        key, vec_s, k_s, metric_s, conn_s, coll, where = m.groups()
        k = int(k_s or 10)
        metric = {"COSINE": "cosine", "EUCLIDEAN": "euclidean",
                  "DOT_PRODUCT": "dot"}[(metric_s or "COSINE").upper()]
        if vec_s is not None:
            qv = [float(x) for x in vec_s.split(",")]
            base = self._embeddings
        else:
            anchor = self._embeddings.filter(F.col("key") == key).head()
            if anchor is None:
                raise KeyError(f"no embedding for key {key!r}")
            qv = [float(x) for x in anchor["embedding"]]
            base = self._embeddings.filter(F.col("key") != key)
        if coll:
            base = base.join(
                self._emb_coll.filter(F.col("collection") == coll).select("key"),
                "key", "left_semi")
        if where:
            base = base.filter(where)
        if conn_s is None:
            return knn(base, "embedding", qv, k, metric, id_cols=("key",))
        # SIMILAR … CONNECTED TO: restrict to ≤2-hop reachability of anchor
        conn = int(conn_s)
        src = local_df(self.spark, [(conn, conn)], "source bigint, node bigint")
        reach = bfs_levels(undirected_edges(self._edges), src, 2).select("node")
        # try_cast: non-numeric session keys (e.g. 'q:1') are simply
        # unreachable rather than an ANSI cast error
        # pre-filter strategy (`vector_engine/src/lib.rs:387-399`): the
        # bounded-BFS reachable set is tiny, so broadcast-semi-join it
        # below the scoring scan — cosine runs only over reachable keys
        cand = base.withColumn("_nid", F.expr("try_cast(key AS BIGINT)")).join(
            F.broadcast(reach), F.col("_nid") == reach.node, "left_semi"
        ).drop("_nid")
        return knn(cand, "embedding", qv, k, metric, id_cols=("key",))

    # -- Cypher subset ----------------------------------------------------

    def _exec_match(self, cmd: str) -> DataFrame:
        """Cypher-subset MATCH (parse: `neumann_parser/src/cypher.rs:15-210`;
        exec: `query_router/src/cypher.rs:47`): single-edge pattern with
        optional labels/edge type, WHERE, RETURN, LIMIT. The pattern lowers
        to an edges⋈nodes⋈nodes join (motif finding)."""
        vm = re.match(
            rf"MATCH\s+{self._NODE_PAT}\s*-\s*\[:?([\w|]+)?\*(\d+)\.\.(\d+)\]\s*->"
            rf"\s*{self._NODE_PAT}"
            r"(?:\s+WHERE\s+(.+?))?\s+RETURN\s+(.+?)"
            r"(?:\s+ORDER\s+BY\s+(.+?))?(?:\s+SKIP\s+(\d+))?"
            r"(?:\s+LIMIT\s+(\d+))?\s*$",
            cmd,
            re.I | re.S,
        )
        if vm:
            return self._exec_match_varlength(vm.groups())
        # incoming var-length `(a)<-[:T*lo..hi]-(b)` normalizes onto the
        # outgoing matcher with the endpoint triples swapped (paths run
        # b -> a); output columns keep the pattern's own variable names
        ivm = re.match(
            rf"MATCH\s+{self._NODE_PAT}\s*<-\s*\[:?([\w|]+)?\*(\d+)\.\.(\d+)\]\s*-"
            rf"\s*{self._NODE_PAT}"
            r"(?:\s+WHERE\s+(.+?))?\s+RETURN\s+(.+?)"
            r"(?:\s+ORDER\s+BY\s+(.+?))?(?:\s+SKIP\s+(\d+))?"
            r"(?:\s+LIMIT\s+(\d+))?\s*$",
            cmd,
            re.I | re.S,
        )
        if ivm:
            g = list(ivm.groups())
            g[0:3], g[6:9] = g[6:9], g[0:3]
            return self._exec_match_varlength(tuple(g))
        nm = re.match(
            rf"MATCH\s*{self._NODE_PAT}"
            r"(?:\s+WHERE\s+(.+?))?\s+RETURN\s+(.+?)"
            r"(?:\s+ORDER\s+BY\s+(.+?))?(?:\s+SKIP\s+(\d+))?"
            r"(?:\s+LIMIT\s+(\d+))?\s*$",
            cmd,
            re.I | re.S,
        )
        if nm:
            # node-only pattern `MATCH (n[:Label] [{props}]) ...`
            # (`neumann_parser/src/cypher.rs` CypherNode) with WHERE /
            # ORDER BY / SKIP / LIMIT clauses
            var, label, props, where, ret, order, skip, limit = nm.groups()
            out = self._nodes.select(
                F.col("id").alias(f"{var}_id"), F.col("label").alias(f"{var}_label")
            )
            if label:
                out = out.filter(F.col(f"{var}_label") == label)
            for k, v in self._parse_props(props).items():
                col = f"{var}_id" if k == "id" else k
                out = out.filter(F.col(col) == F.lit(v))
            if where:
                out = out.filter(re.sub(rf"\b{var}\.(\w+)", rf"{var}_\1", where))
            out = self._cypher_return(out, ret, {var})
            if order:
                out = self._cypher_orderby(out, order, {var})
            else:
                out = out.orderBy(out.columns[0])
            if skip:
                out = out.offset(int(skip))
            if limit:
                out = out.limit(int(limit))
            return out
        # incoming form `(a)<-[:T]-(b)` normalizes onto the outgoing
        # matcher with endpoints swapped (`cypher.rs` CypherRel direction)
        im = re.match(
            r"MATCH\s+\((\w+)(?::(\w+))?\)\s*<-\s*\[:?([\w|]+)?\]\s*-\s*\((\w+)(?::(\w+))?\)"
            r"(?:\s+WHERE\s+(.+?))?\s+RETURN\s+(.+?)(?:\s+LIMIT\s+(\d+))?\s*$",
            cmd,
            re.I | re.S,
        )
        if im:
            a, a_lbl, etype, b, b_lbl, where, ret, limit = im.groups()
            a, a_lbl, b, b_lbl = b, b_lbl, a, a_lbl
        else:
            m = re.match(
                r"MATCH\s+\((\w+)(?::(\w+))?\)\s*-\s*\[:?([\w|]+)?\]\s*->\s*\((\w+)(?::(\w+))?\)"
                r"(?:\s+WHERE\s+(.+?))?\s+RETURN\s+(.+?)(?:\s+LIMIT\s+(\d+))?\s*$",
                cmd,
                re.I | re.S,
            )
            if not m:
                raise ValueError(
                    "unsupported MATCH pattern (node-only, single directed "
                    "edge either direction, or variable-length "
                    "`-[:T*min..max]->`)"
                )
            a, a_lbl, etype, b, b_lbl, where, ret, limit = m.groups()
        na = self._nodes.select(
            F.col("id").alias(f"{a}_id"), F.col("label").alias(f"{a}_label")
        )
        nb = self._nodes.select(
            F.col("id").alias(f"{b}_id"), F.col("label").alias(f"{b}_label")
        )
        e = self._edges
        if etype:
            # `[:A|B]` type alternation (`cypher.rs` CypherRel rel_types)
            e = e.filter(F.col("edge_type").isin(etype.split("|")))
        out = (
            e.join(na, e.src == F.col(f"{a}_id"))
            .join(nb, e.dst == F.col(f"{b}_id"))
            .select(f"{a}_id", f"{a}_label", f"{b}_id", f"{b}_label", "edge_type", "weight")
        )
        if a_lbl:
            out = out.filter(F.col(f"{a}_label") == a_lbl)
        if b_lbl:
            out = out.filter(F.col(f"{b}_label") == b_lbl)
        if where:
            out = out.filter(where)
        out = self._cypher_return(out, ret, {a, b})
        if limit:
            out = out.limit(int(limit))
        return out

    @staticmethod
    def _cypher_orderby(out: DataFrame, order: str, id_vars: set) -> DataFrame:
        """Shared ORDER BY item parsing for the Cypher matchers: a bare
        pattern variable sorts by its id column, `var.prop` by the
        prefixed property column, anything else (e.g. `hops`) as-is;
        optional ASC/DESC per item."""
        items = []
        for part in order.split(","):
            toks = part.split()
            col = toks[0]
            if col in id_vars:
                col = f"{col}_id"
            else:
                for var in id_vars:
                    col = col.replace(f"{var}.", f"{var}_")
            desc = len(toks) > 1 and toks[1].upper() == "DESC"
            items.append(F.col(col).desc() if desc else F.col(col).asc())
        return out.orderBy(*items)

    _CYPHER_AGG_RE = re.compile(
        r"COUNT\s*\(\s*(DISTINCT\s+)?(\*|[\w.]+)\s*\)(?:\s+AS\s+(\w+))?\s*$",
        re.I)

    def _cypher_return(self, out: DataFrame, ret: str, id_vars: set) -> DataFrame:
        """Cypher RETURN item list (`neumann_parser/src/cypher.rs`
        CypherReturn/CypherReturnItem — `COUNT(p) AS total` is the
        documented aggregate form, plus the DISTINCT flag): bare pattern
        variables resolve to their id column, `var.prop` to the prefixed
        property column, each item takes an optional `AS alias`. When any
        COUNT appears, the non-aggregated items become grouping keys —
        Cypher's implicit grouping — or a global aggregate if none."""
        body = ret.strip()
        distinct = False
        dm = re.match(r"DISTINCT\s+(.+)$", body, re.I | re.S)
        if dm:
            distinct, body = True, dm.group(1)

        def resolve(name: str) -> str:
            if name in id_vars:
                return f"{name}_id"
            if "." in name:
                v, p = name.split(".", 1)
                if v in id_vars:
                    return f"{v}_id" if p == "id" else f"{v}_{p}"
            return name

        keys, aggs = [], []
        for it in (c.strip() for c in body.split(",")):
            am = self._CYPHER_AGG_RE.match(it)
            if am:
                dis, tgt, alias = am.groups()
                if tgt == "*":
                    if dis:  # COUNT(DISTINCT *) would silently return 1
                        raise ValueError(
                            "COUNT(DISTINCT *) is not supported — name a "
                            "variable: COUNT(DISTINCT x)")
                    col = F.count(F.lit(1))
                else:
                    col = (F.count_distinct if dis else F.count)(resolve(tgt))
                if not alias:  # unique default aliases, never a duplicate
                    alias = "count" if not aggs else f"count_{len(aggs) + 1}"
                aggs.append(col.alias(alias))
                continue
            pm = re.match(r"([\w.]+)(?:\s+AS\s+(\w+))?\s*$", it, re.I)
            if not pm:
                raise ValueError(f"unsupported RETURN item {it!r}")
            name, alias = pm.groups()
            col = F.col(resolve(name))
            keys.append(col.alias(alias) if alias else col)
        if aggs:
            out = out.groupBy(*keys).agg(*aggs) if keys else out.agg(*aggs)
        else:
            out = out.select(*keys)
        return out.distinct() if distinct else out

    def _exec_match_varlength(self, groups) -> DataFrame:
        """Cypher variable-length pattern
        `(a[:L] [{props}])-[:T|U*min..max]->(b[:L] [{props}])` with WHERE /
        RETURN / ORDER BY / SKIP / LIMIT (`neumann_parser/src/cypher.rs`
        var-length `*1..5` + the full clause surface the fixed-length
        matchers already carry; `find_variable_paths`
        `graph_engine/src/lib.rs:5405`): multi-source BFS over
        type-filtered directed edges, hop range filtered, endpoint labels
        and property maps applied as source/destination filters, `hops` =
        shortest reach distance. WHERE sees `a.id`/`a.label`/`b.id`/
        `b.label`/`hops` (facade dialect incl. BETWEEN/CASE/IN)."""
        (a, a_lbl, a_props, etype, lo, hi, b, b_lbl, b_props,
         where, ret, order, skip, limit) = groups
        lo, hi = int(lo), int(hi)
        if hi < lo or hi > 8:
            raise ValueError("variable-length bounds must satisfy min ≤ max ≤ 8")
        e = self._edges
        if etype:
            e = e.filter(F.col("edge_type").isin(etype.split("|")))
        srcs = self._nodes
        if a_lbl:
            srcs = srcs.filter(F.col("label") == a_lbl)
        for k, v in self._parse_props(a_props).items():
            srcs = srcs.filter(F.col(k) == F.lit(v))
        sources = srcs.select(F.col("id").alias("source"), F.col("id").alias("node"))
        levels = bfs_levels(e, sources, hi)
        out = levels.filter(
            (F.col("dist") >= lo) & (F.col("dist") <= hi)
        ).select(
            F.col("source").alias(f"{a}_id"),
            F.col("node").alias(f"{b}_id"),
            F.col("dist").alias("hops"),
        )
        # endpoint labels for WHERE/RETURN — inner joins on the (id, label)
        # node rows, the same multi-label fan-out the fixed-length matcher
        # has (fixture nodes are single-label, so row counts match)
        na = srcs.select(F.col("id").alias(f"{a}_id"),
                         F.col("label").alias(f"{a}_label"))
        out = out.join(na, f"{a}_id")
        nb = self._nodes
        if b_lbl:
            nb = nb.filter(F.col("label") == b_lbl)
        for k, v in self._parse_props(b_props).items():
            nb = nb.filter(F.col(k) == F.lit(v))
        out = out.join(
            nb.select(F.col("id").alias(f"{b}_id"),
                      F.col("label").alias(f"{b}_label")),
            f"{b}_id")
        if where:
            for var in (a, b):
                where = re.sub(rf"\b{var}\.(\w+)", rf"{var}_\1", where)
            out = out.filter(where)
        out = self._cypher_return(out, ret, {a, b})
        if order:
            out = self._cypher_orderby(out, order, {a, b})
        if skip:
            out = out.offset(int(skip))
        if limit:
            out = out.limit(int(limit))
        return out

    # -- graph mutation APIs ----------------------------------------------
    # Recompute-and-replace on the session overlays, the same shape
    # `operators/dml.py` uses for tables. The reference mutates in place
    # (`graph_engine/src/lib.rs:3551,3744,6417,6459`); immutable-DataFrame
    # semantics swap the overlay instead — at scale this is the standard
    # copy-on-write table format pattern (Delta/Iceberg MERGE).

    def _checkpoint_overlays(self) -> None:
        """Cap lineage growth: lazy-localCheckpoint the overlays at
        statement boundaries so a mutation session doesn't build an
        ever-deeper union/anti-join plan. Every `_OVERLAY_CP_EVERY`-th
        mutation checkpoints; OPTIMIZATION_r14 has the job/wall numbers
        behind that cadence."""
        self._mutations += 1
        if self._mutations % _OVERLAY_CP_EVERY == 0:
            self._nodes = self._nodes.localCheckpoint(eager=False)
            self._edges = self._edges.localCheckpoint(eager=False)
            self._embeddings = self._embeddings.localCheckpoint(eager=False)

    def update_node(
        self, node_id: int, label: str, only_label: "Optional[str]" = None
    ) -> None:
        """Replace a node's primary label (`update_node`, lib.rs:3551).
        The new version validates against the store minus the rewritten
        rows (`validate_node_constraints` with exclude_id, lib.rs:3549).
        `only_label` scopes the rewrite to the (id, label) row — MERGE's
        match branch uses it so a shared id across labels doesn't clobber
        the OTHER labels' rows."""
        self._cache_clear()
        cond = F.col("id") == node_id
        if only_label is not None:
            cond = cond & (F.col("label") == only_label)
        # new versions = the ACTUAL matched rows relabeled (a shared id
        # across labels yields several), so a within-batch duplicate is
        # caught even though the store side excludes the rewritten rows
        new = self._nodes.filter(cond).withColumn("label", F.lit(label))
        self._check_graph_write_constraints(
            "node", new, store=self._nodes.filter(~cond))
        self._nodes = self._nodes.withColumn(
            "label",
            F.when(cond, F.lit(label)).otherwise(F.col("label")),
        )
        self._checkpoint_overlays()

    def delete_node(self, node_id: int, detach: bool = False) -> None:
        """Delete a node (`delete_node`, lib.rs:3744). Without `detach`,
        refuses while incident edges exist — Cypher DELETE semantics; DETACH
        removes the edges too."""
        self._cache_clear()
        incident = (F.col("src") == node_id) | (F.col("dst") == node_id)
        if detach:
            self._edges = self._edges.filter(~incident)
        elif self._edges.filter(incident).limit(1).count() > 0:
            raise ValueError(
                f"node {node_id} still has edges; use DETACH DELETE"
            )
        self._nodes = self._nodes.filter(F.col("id") != node_id)
        self._extra_labels = self._extra_labels.filter(F.col("id") != node_id)
        self._checkpoint_overlays()

    def add_label(self, node_id: int, label: str) -> None:
        """Add a secondary label (`add_label`, lib.rs:3641)."""
        self._cache_clear()
        new = local_df(self.spark, [(node_id, label)], "id bigint, label string")
        self._extra_labels = (
            self._extra_labels.unionAll(new).dropDuplicates(["id", "label"])
        )

    def remove_label(self, node_id: int, label: str) -> None:
        """Remove a secondary label (`remove_label`, lib.rs:3679)."""
        self._cache_clear()
        self._extra_labels = self._extra_labels.filter(
            ~((F.col("id") == node_id) & (F.col("label") == label))
        )

    def get_labels(self, node_id: int) -> list[str]:
        """Primary + secondary labels (`has_label`/`labels`, lib.rs:3730)."""
        primary = [
            r["label"]
            for r in self._nodes.filter(F.col("id") == node_id).collect()
        ]
        extra = [
            r["label"]
            for r in self._extra_labels.filter(F.col("id") == node_id).collect()
        ]
        return sorted(set(primary) | set(extra))

    def update_edge(
        self,
        src: int,
        dst: int,
        edge_type: Optional[str] = None,
        weight: Optional[float] = None,
    ) -> None:
        """Update an edge's type/weight (`update_edge`, lib.rs:6417). The
        rewritten versions validate against the store minus the rewritten
        rows (constraint parity with create_edge, lib.rs:3282)."""
        self._cache_clear()
        hit = (F.col("src") == src) & (F.col("dst") == dst)
        if edge_type is not None and weight is None:
            hit = hit & (F.col("edge_type") == edge_type)
        e = self._edges
        if weight is not None:
            e = e.withColumn(
                "weight", F.when(hit, F.lit(float(weight))).otherwise(F.col("weight"))
            )
        if edge_type is not None and weight is not None:
            e = e.withColumn(
                "edge_type", F.when(hit, F.lit(edge_type)).otherwise(F.col("edge_type"))
            )
        self._check_graph_write_constraints(
            "edge", e.filter(hit), store=self._edges.filter(~hit))
        self._edges = e
        self._checkpoint_overlays()

    def delete_edge(
        self, src: int, dst: int, edge_type: Optional[str] = None
    ) -> None:
        """Delete edge(s) between src and dst (`delete_edge`, lib.rs:6459)."""
        self._cache_clear()
        hit = (F.col("src") == src) & (F.col("dst") == dst)
        if edge_type is not None:
            hit = hit & (F.col("edge_type") == edge_type)
        self._edges = self._edges.filter(~hit)
        self._checkpoint_overlays()

    # -- vector mutation APIs ---------------------------------------------

    def delete_embedding(self, key: str) -> None:
        """Delete one embedding (`delete`, vector_engine/src/lib.rs:1915)."""
        self._cache_clear()
        self._embeddings = self._embeddings.filter(F.col("key") != key)
        self._emb_meta = self._emb_meta.filter(F.col("key") != key)

    def delete_embeddings_where(self, predicate: str) -> None:
        """Batch delete by predicate (`batch_delete`,
        vector_engine/src/lib.rs:1915 batch form)."""
        self._cache_clear()
        self._embeddings = self._embeddings.filter(f"NOT ({predicate})")
        self._emb_meta = self._emb_meta.join(
            self._embeddings.select("key"), "key", "left_semi"
        )

    def clear_embeddings(self) -> None:
        """Clear the store (`clear`, vector_engine/src/lib.rs:2340)."""
        self._cache_clear()
        self._embeddings = self._embeddings.limit(0)
        self._emb_meta = self._emb_meta.limit(0)

    def update_embedding_metadata(self, key: str, **meta: str) -> None:
        """Merge metadata key/values for an embedding
        (`update_metadata`, vector_engine/src/lib.rs:3320,3346)."""
        self._cache_clear()
        new = local_df(self.spark,
            [(key, k, str(v)) for k, v in meta.items()],
            "key string, meta_key string, meta_value string",
        )
        self._emb_meta = (
            self._emb_meta.join(
                new.select("key", "meta_key"), ["key", "meta_key"], "left_anti"
            ).unionAll(new)
        )

    def get_embedding_metadata(self, key: str) -> dict[str, str]:
        return {
            r["meta_key"]: r["meta_value"]
            for r in self._emb_meta.filter(F.col("key") == key).collect()
        }

    # -- unified entity mutation APIs -------------------------------------

    def update_entity(self, entity_id: int, label: str) -> None:
        """Update an entity's node half (`update_entity`,
        tensor_unified/src/lib.rs:708)."""
        self.update_node(entity_id, label)

    def delete_entity(self, entity_id: int) -> None:
        """Delete node + edges + embedding together (`delete_entity`,
        tensor_unified/src/lib.rs:804)."""
        self.delete_node(entity_id, detach=True)
        self.delete_embedding(str(entity_id))

    def disconnect_entities(self, a: int, b: int) -> None:
        """Drop every edge between two entities, both directions
        (`disconnect_entities`, tensor_unified/src/lib.rs:839)."""
        self._cache_clear()
        hit = ((F.col("src") == a) & (F.col("dst") == b)) | (
            (F.col("src") == b) & (F.col("dst") == a)
        )
        self._edges = self._edges.filter(~hit)
        self._checkpoint_overlays()

    # -- Cypher write verbs (`query_router/src/cypher.rs:98,114,168`) ------

    _NODE_PAT = r"\((\w+)(?::(\w+))?\s*(?:\{(.*?)\})?\)"

    @staticmethod
    def _parse_props(body: Optional[str]) -> dict:
        """`{id: 5, name: 'x', type: knows}` property map — literal values,
        plus bare identifiers as strings (the reference's parser accepts
        idents for e.g. `type:` / `labels:`, `neumann_parser` Property)."""
        props: dict = {}
        if not body or not body.strip():
            return props
        for lbl in re.finditer(r"labels\s*:\s*\[([^\]]*)\]", body, re.I):
            first = lbl.group(1).split(",")[0].strip().strip("'\"")
            if first:
                props["label"] = first
        body = re.sub(r"labels\s*:\s*\[[^\]]*\]\s*,?", "", body, flags=re.I)
        if not body.strip():
            return props
        for pair in body.split(","):
            if not pair.strip():
                continue
            k, _, v = pair.partition(":")
            if not _:
                raise ValueError(f"expected key: value in props: {pair!r}")
            v = v.strip()
            try:
                props[k.strip()] = ast.literal_eval(v)
            except (ValueError, SyntaxError) as e:
                if re.fullmatch(r"[A-Za-z_]\w*", v):
                    props[k.strip()] = v
                else:
                    raise ValueError(
                        f"property values must be literals: {v!r}") from e
        return props

    def _exec_cypher_create(self, cmd: str) -> DataFrame:
        """Cypher CREATE (`cypher.rs:98`): node `CREATE (n:Label {id: 5})`
        or edge `CREATE (a {id: 1})-[:T {weight: 2.0}]->(b {id: 2})`."""
        em = re.match(
            rf"CREATE\s*{self._NODE_PAT}\s*-\s*\[:?(\w+)?\s*(?:\{{(.*?)\}})?\]\s*->"
            rf"\s*{self._NODE_PAT}\s*$",
            cmd,
            re.I | re.S,
        )
        if em:
            _, _, a_props, etype, e_props, _, _, b_props = em.groups()
            src = int(self._parse_props(a_props)["id"])
            dst = int(self._parse_props(b_props)["id"])
            w = float(self._parse_props(e_props).get("weight", 1.0))
            new = local_df(self.spark,
                [(src, dst, etype or "edge", w)],
                "src bigint, dst bigint, edge_type string, weight double",
            )
            self._add_edges(new)
            self._checkpoint_overlays()
            return new
        nm = re.match(rf"CREATE\s*{self._NODE_PAT}\s*$", cmd, re.I | re.S)
        if not nm:
            raise ValueError(
                "expected CREATE (n:Label {id: ...}) or "
                "CREATE (a {id: ...})-[:T]->(b {id: ...})"
            )
        _, label, props = nm.groups()
        nid = int(self._parse_props(props)["id"])
        new = local_df(self.spark,
            [(nid, label or "node")], "id bigint, label string"
        )
        self._add_nodes(new)
        self._checkpoint_overlays()
        return new

    def _exec_cypher_merge(self, cmd: str) -> DataFrame:
        """Cypher MERGE (`cypher.rs:168`; CypherMergeStmt `on_create` /
        `on_match` SET lists, `:196-207`): bind the full pattern if it
        exists, else create it — then apply the branch's SET items.
        Settable node properties are the overlay's columns (`label`;
        free-form properties live on entities), matching `_NODE_PROPS`."""
        # either clause order parses (Cypher allows ON MATCH first)
        m = self._require(
            re.match(
                rf"MERGE\s*{self._NODE_PAT}"
                r"(?:\s+ON\s+(CREATE|MATCH)\s+SET\s+"
                r"((?:(?!\s+ON\s+(?:CREATE|MATCH)\s+SET\s).)+))?"
                r"(?:\s+ON\s+(CREATE|MATCH)\s+SET\s+(.+?))?\s*$",
                cmd, re.I | re.S),
            "MERGE (n:Label {id: ...}) [ON CREATE SET n.p = v] "
            "[ON MATCH SET n.p = v]",
        )
        var, label, props, kind1, set1, kind2, set2 = m.groups()
        clauses: dict[str, str] = {}
        for kind, body in ((kind1, set1), (kind2, set2)):
            if kind:
                key = kind.upper()
                if key in clauses:
                    raise ValueError(f"duplicate ON {key} SET clause")
                clauses[key] = body
        on_create, on_match = clauses.get("CREATE"), clauses.get("MATCH")

        def parse_sets(clause: "Optional[str]") -> dict:
            out: dict = {}
            if not clause:
                return out
            for item in self._split_top_level(clause):
                sm = self._require(
                    re.match(rf"{var}\.(\w+)\s*=\s*(.+?)\s*$", item, re.S),
                    f"SET item `{var}.prop = value`")
                prop, val = sm.groups()
                if prop not in self._NODE_PROPS or prop == "id":
                    raise ValueError(
                        f"unsupported SET property {prop!r} (settable: label)")
                parsed = self._parse_default_literal(val.strip())
                if not isinstance(parsed, str):
                    raise ValueError(
                        f"SET {var}.{prop} requires a string literal, "
                        f"got {parsed!r}")
                out[prop] = parsed
            return out

        create_sets, match_sets = parse_sets(on_create), parse_sets(on_match)
        if (label and create_sets.get("label")
                and create_sets["label"] != label):
            # a created node carrying a different label would never
            # re-match its own MERGE pattern — the bind-or-create contract
            # (idempotency) would silently break on the second run
            raise ValueError(
                f"ON CREATE SET label {create_sets['label']!r} conflicts "
                f"with the MERGE pattern label {label!r}")
        nid = int(self._parse_props(props)["id"])
        hit = self._nodes.filter(F.col("id") == nid)
        if label:
            hit = hit.filter(F.col("label") == label)
        existing = hit.limit(1).collect()
        if existing:
            row = existing[0]
            new_label = match_sets.get("label", row["label"])
            if new_label != row["label"]:
                # scope the relabel to the matched (id, label) row — other
                # labels sharing this id must survive untouched
                self.update_node(nid, new_label, only_label=row["label"])
            return local_df(self.spark,
                [(row["id"], new_label, "matched")],
                "id bigint, label string, status string",
            )
        new = local_df(self.spark,
            [(nid, create_sets.get("label", label or "node"))],
            "id bigint, label string",
        )
        self._add_nodes(new)
        self._checkpoint_overlays()
        return new.select("id", "label", F.lit("created").alias("status"))

    def _exec_cypher_delete(self, cmd: str) -> DataFrame:
        """Cypher DELETE / DETACH DELETE (`cypher.rs:114`): node form
        `MATCH (n[:Label]) [WHERE expr] [DETACH] DELETE n` (expr over
        id/label) or edge form `MATCH (a)-[r:T]->(b) [WHERE expr] DELETE r`
        (expr over src/dst/edge_type/weight)."""
        em = re.match(
            rf"MATCH\s*{self._NODE_PAT}\s*-\s*\[(\w+):?(\w+)?\]\s*->\s*{self._NODE_PAT}"
            r"(?:\s+WHERE\s+(.+?))?\s+DELETE\s+(\w+)\s*$",
            cmd,
            re.I | re.S,
        )
        if em:
            groups = em.groups()
            rvar, etype, where, target = groups[3], groups[4], groups[8], groups[9]
            if target != rvar:
                raise ValueError("edge DELETE target must be the relationship var")
            hits = self._edges
            if etype:
                hits = hits.filter(F.col("edge_type") == etype)
            if where:
                hits = hits.filter(where)
            n = hits.count()
            self._edges = self._edges.join(
                hits, ["src", "dst", "edge_type"], "left_anti"
            )
            self._checkpoint_overlays()
            return local_df(self.spark,
                [(n,)], "deleted_edges bigint"
            )
        m = self._require(
            re.match(
                rf"MATCH\s*{self._NODE_PAT}(?:\s+WHERE\s+(.+?))?\s+"
                r"(DETACH\s+)?DELETE\s+(\w+)\s*$",
                cmd,
                re.I | re.S,
            ),
            "MATCH (n[:Label]) [WHERE expr] [DETACH] DELETE n",
        )
        var, label, _props, where, detach, target = m.groups()
        if target != var:
            raise ValueError("DELETE target must be the matched variable")
        hits = self._nodes
        if label:
            hits = hits.filter(F.col("label") == label)
        if where:
            hits = hits.filter(where)
        hit_ids = hits.select("id")
        incident = self._edges.join(
            hit_ids, (self._edges.src == hit_ids.id) | (self._edges.dst == hit_ids.id),
            "left_semi",
        )
        if detach:
            self._edges = self._edges.join(
                hit_ids.withColumnRenamed("id", "_del"),
                (F.col("src") == F.col("_del")) | (F.col("dst") == F.col("_del")),
                "left_anti",
            )
        elif incident.limit(1).count() > 0:
            raise ValueError("matched nodes still have edges; use DETACH DELETE")
        n = hits.count()
        self._nodes = self._nodes.join(hit_ids, "id", "left_anti")
        self._extra_labels = self._extra_labels.join(hit_ids, "id", "left_anti")
        self._checkpoint_overlays()
        return local_df(self.spark, [(n,)], "deleted_nodes bigint")

    # -- unified FIND -----------------------------------------------------

    def _exec_find(self, cmd: str) -> DataFrame:
        """`FIND NODE[S]|VERTEX [label] | EDGE[S] [type] | ROWS [FROM] table
        [WHERE cond] [RETURN items] [LIMIT n]` (`neumann_parser` FindStmt /
        FindPattern; UnifiedItem result schema unless RETURN projects), plus
        the cross-engine `FIND <name> [WHERE cond] SIMILAR TO "key" [TOP k]
        [CONNECTED TO id]` form (`integration_tests/tests/find_command.rs`)."""
        sm = re.match(
            r"FIND\s+(\w+)(?:\s+WHERE\s+(.+?))?\s+SIMILAR\s+TO\s+"
            r"[\"']([\w:]+)[\"'](?:\s+TOP\s+(\d+))?"
            r"(?:\s+CONNECTED\s+TO\s+'?(\d+)'?)?\s*$",
            cmd,
            re.I | re.S,
        )
        if sm:
            _name, where, key, k_s, conn = sm.groups()
            parts = [f"SIMILAR '{key}'", f"TOP {int(k_s or 10)}"]
            if conn:
                parts.append(f"CONNECTED TO '{conn}'")
            if where:
                # WHERE over the embedding candidates (key-space predicate);
                # relational-column predicates belong to FIND ROWS
                parts.append(f"WHERE {where}")
            return self._exec_similar(" ".join(parts))
        m = self._require(
            re.match(
                r"FIND\s+(NODES?|VERTEX|EDGES?|ROWS)"
                r"(?:\s+(?:FROM\s+)?(?!WHERE\b|RETURN\b|LIMIT\b)(\w+))?"
                r"(?:\s+WHERE\s+(.+?))?"
                r"(?:\s+RETURN\s+(.+?))?"
                r"(?:\s+LIMIT\s+(\d+))?\s*$",
                cmd,
                re.I | re.S,
            ),
            "FIND NODES|VERTEX|EDGES|ROWS [label|type|table] [WHERE cond] "
            "[RETURN items] [LIMIT n]")
        kind = m.group(1).upper()
        kind = {"NODE": "NODES", "VERTEX": "NODES", "EDGE": "EDGES"}.get(kind, kind)
        name = m.group(2)
        if kind == "NODES":
            base = self._nodes
            if name:
                base = base.filter(F.col("label") == name)
        elif kind == "EDGES":
            base = self._edges
            if name:
                base = base.filter(F.col("edge_type") == name)
        else:
            base = self.spark.table(name or "customer")
        if m.group(3):
            base = base.filter(m.group(3))
        ret, limit = m.group(4), m.group(5)
        if ret:
            out = base.select(*[c.strip() for c in ret.split(",")])
            return out.limit(int(limit)) if limit else out
        # UnifiedItem result schema: (source, id, data) — SURVEY.md §2.11
        if kind == "NODES":
            out = base.select(
                F.lit("graph").alias("source"),
                F.col("id").cast("string").alias("id"),
                F.col("label").alias("data"),
            )
        elif kind == "EDGES":
            out = base.select(
                F.lit("graph").alias("source"),
                F.concat_ws("->", "src", "dst").alias("id"),
                F.col("edge_type").alias("data"),
            )
        else:
            first = base.columns[0]
            out = base.select(
                F.lit("relational").alias("source"),
                F.col(first).cast("string").alias("id"),
                F.to_json(F.struct(*base.columns)).alias("data"),
            )
        return out.limit(int(limit)) if limit else out

    # -- SQL DML (UPDATE / DELETE on session-overlaid tables) --------------

    def _session_table(self, name: str) -> DataFrame:
        """Table for DML: a session table, or a fixture table promoted to a
        session overlay on first write (copy-on-write, like
        `operators/dml.py` recompute-and-replace)."""
        if name in self._tables:
            return self._tables[name]
        if name in TABLES:
            df = load(self.spark, self.sf_dir, name)
            self._tables[name] = df
            return df
        raise KeyError(f"unknown table {name!r}")

    def _exec_update(self, cmd: str) -> DataFrame:
        """`UPDATE t SET col = expr[, ...] [WHERE cond]`
        (`relational_engine/src/lib.rs` update; lowered onto
        `operators/dml.update_where`)."""
        from neumann_spark.operators.dml import update_where

        m = self._require(
            re.match(r"UPDATE\s+(\w+)\s+SET\s+(.+?)(?:\s+WHERE\s+(.+))?\s*$",
                     cmd, re.I | re.S),
            "UPDATE t SET col = expr [WHERE cond]")
        name, sets, where = m.groups()
        assignments = {}
        # top-level split only: SET expressions are full Spark SQL (the
        # reference's expr dialect, `neumann_parser/src/expr.rs:7-18`), so
        # CASE WHEN / IN (a, b) / function calls may contain commas
        for part in self._split_top_level(sets):
            col, _, expr = part.partition("=")
            if not _:
                raise ValueError(f"expected col = expr in SET: {part!r}")
            assignments[col.strip()] = F.expr(expr.strip())
        df = self._session_table(name)
        cond = F.expr(where) if where else F.lit(True)
        before = df.count()
        new = update_where(df, cond, assignments)
        # the update path enforces the same invariants as insert: the NEW
        # versions of the matched rows are the "write batch" and the
        # untouched rows are the stored side, so UPDATE t SET id = <dup>
        # raises exactly like the equivalent INSERT would, and an updated
        # FK column must still reference an existing parent
        updated = df.filter(cond).select(
            *[assignments.get(c, F.col(c)).alias(c) for c in df.columns]
        )
        untouched = df.filter(~cond.eqNullSafe(F.lit(True)))
        self._check_table_constraints(name, updated, existing=untouched)
        if set(assignments) & {
            c for fk in self._fks.get(name, ()) for c in fk["columns"]
        }:
            self._check_fk_inserts(name, updated)
        # ON UPDATE referential actions fire when the update rewrites key
        # columns that children reference; staged like the delete path so a
        # RESTRICT aborts the whole statement atomically
        staged: dict[str, DataFrame] = {}
        self._apply_fk_on_update(name, df, cond, assignments, new, staged)
        staged[name] = new
        for tbl, tdf in staged.items():
            self._tables[tbl] = tdf
            tdf.createOrReplaceTempView(tbl)
        return local_df(self.spark,
            [(name, before)], "table string, scanned bigint")

    def _apply_fk_on_update(
        self, name: str, df: DataFrame, cond, assignments: dict,
        parent_after: DataFrame, staged: dict[str, DataFrame],
    ) -> None:
        """Update-side referential actions
        (`ForeignKeyConstraint.on_update`, `relational_engine/src/lib.rs:
        195`): when an UPDATE rewrites columns some child references, rows
        holding the OLD keys follow the declared action — RESTRICT/NO
        ACTION error, CASCADE rewrites the child keys to the new values,
        SET NULL / SET DEFAULT overwrite them.

        Old→new key pairs come from ONE pass over the matching parent rows
        (old columns and assignment expressions in the same select — no row
        identity needed), and each child rewrite is a broadcast join
        against the small changed-pairs frame: the child table never
        shuffles. Single-level by design (a cascaded child-key rewrite does
        not fire grandchild ON UPDATE actions — matching the reference's
        single-table update path); self-referential ON UPDATE raises
        rather than guessing an order."""
        from functools import reduce
        from operator import and_, or_

        assigned = set(assignments)
        for child, fks in list(self._fks.items()):
            for fk in fks:
                if fk["ref_table"] != name or child not in self._tables:
                    continue
                rcs = fk["ref_columns"]
                if not (set(rcs) & assigned):
                    continue
                pairs = df.filter(cond).select(
                    *[F.col(rc).alias(f"_o{i}") for i, rc in enumerate(rcs)],
                    *[
                        (assignments[rc] if rc in assignments
                         else F.col(rc)).alias(f"_n{i}")
                        for i, rc in enumerate(rcs)
                    ],
                )
                changed = pairs.filter(
                    reduce(or_, [
                        ~F.col(f"_o{i}").eqNullSafe(F.col(f"_n{i}"))
                        for i in range(len(rcs))
                    ])
                ).distinct().localCheckpoint(eager=True)
                if changed.isEmpty():
                    continue
                if child == name:
                    raise ValueError(
                        f"self-referential ON UPDATE action on {name!r} is "
                        f"not supported (constraint {fk['name']!r})")
                action = fk.get("on_update", "RESTRICT")
                child_df = staged.get(child, self._tables[child])
                join_cond = reduce(and_, [
                    child_df[c] == F.col(f"_o{i}")
                    for i, c in enumerate(fk["columns"])
                ])
                if action in ("RESTRICT", "NO_ACTION"):
                    n = child_df.join(
                        F.broadcast(changed), join_cond, "semi").count()
                    if n:
                        raise ValueError(
                            f"foreign key restrict: {n} row(s) in {child!r} "
                            f"reference updated keys of {name!r} "
                            f"(constraint {fk['name']!r})")
                    continue
                if action == "CASCADE":
                    amb = (
                        changed.groupBy(
                            *[f"_o{i}" for i in range(len(rcs))])
                        .count().filter(F.col("count") > 1).count()
                    )
                    if amb:
                        raise ValueError(
                            f"ambiguous ON UPDATE CASCADE: an old key of "
                            f"{name!r} maps to multiple new keys "
                            f"(constraint {fk['name']!r})")
                else:
                    # SET NULL / SET DEFAULT only need old-key MEMBERSHIP:
                    # project away the new columns before the join, or an
                    # old key mapping to several new keys would duplicate
                    # every matching child row
                    changed = changed.select(
                        *[f"_o{i}" for i in range(len(rcs))]).distinct()
                marked = child_df.join(
                    F.broadcast(changed.withColumn("_fk_hit", F.lit(True))),
                    join_cond, "left")
                repl = (
                    self._table_constraints.get(child, {}).get("defaults", {})
                    if action == "SET_DEFAULT" else {}
                )
                if action == "CASCADE":
                    sets = {
                        c: F.when(F.col("_fk_hit"), F.col(f"_n{i}"))
                        .otherwise(child_df[c]).alias(c)
                        for i, c in enumerate(fk["columns"])
                    }
                else:  # SET_NULL / SET_DEFAULT
                    sets = {
                        c: F.when(F.col("_fk_hit"), F.lit(repl.get(c)))
                        .otherwise(child_df[c]).alias(c)
                        for c in fk["columns"]
                    }
                staged[child] = marked.select(
                    *[sets.get(c, child_df[c]) for c in child_df.columns])
                if action == "SET_DEFAULT":
                    self._check_default_tuple_fk(child, fk, repl, parent_after)
                self._validate_staged_child(child, staged[child])

    def _check_default_tuple_fk(
        self, child: str, fk: dict, repl: dict, parent: DataFrame
    ) -> None:
        """A SET DEFAULT action rewrites child keys to the declared column
        defaults — that tuple must itself satisfy the FK against the
        post-statement parent. MATCH SIMPLE semantics: a tuple with any
        NULL component passes (like NULL FKs on insert). One filtered
        1-row existence probe on the parent."""
        from functools import reduce
        from operator import and_

        if any(repl.get(c) is None for c in fk["columns"]):
            return
        hit = parent.filter(
            reduce(and_, [
                F.col(rc) == F.lit(repl[c])
                for c, rc in zip(fk["columns"], fk["ref_columns"])
            ])
        ).count()
        if not hit:
            vals = tuple(repl[c] for c in fk["columns"])
            raise ValueError(
                f"foreign key violation: SET DEFAULT on {child!r} — default "
                f"{vals!r} does not exist in {fk['ref_table']!r} "
                f"(constraint {fk['name']!r})")

    def _exec_delete(self, cmd: str) -> DataFrame:
        """`DELETE FROM t [WHERE cond]` (lowered onto
        `operators/dml.delete_where`)."""
        from neumann_spark.operators.dml import delete_where

        m = self._require(
            re.match(r"DELETE\s+(?:FROM\s+)?(\w+)(?:\s+WHERE\s+(.+))?\s*$",
                     cmd, re.I | re.S),
            "DELETE [FROM] t [WHERE cond]")
        name, where = m.groups()
        df = self._session_table(name)
        cond = F.expr(where) if where else F.lit(True)
        # pin the doomed rows BEFORE any mutation: referential actions key
        # off this snapshot, and the survivor set is computed from the
        # pristine table — never by re-filtering cond after a cascade may
        # have rewritten the very columns cond reads (SET_NULL). The eager
        # materialization is load-bearing only when a cascade will consume
        # the snapshot — tables nothing references skip it (one less job
        # on the common delete path)
        referenced = any(
            fk["ref_table"] == name
            for fks in self._fks.values() for fk in fks)
        doomed = df.filter(cond)
        if referenced:
            doomed = doomed.localCheckpoint(eager=True)
        n = doomed.count()
        staged: dict[str, DataFrame] = {name: delete_where(df, cond)}
        if n:
            # self-referential FKs see the staged survivor table, so the
            # main delete and its cascades compose; a RESTRICT anywhere in
            # the chain raises before ANY staged change is committed
            self._apply_fk_on_delete(name, doomed, staged)
        for tbl, tdf in staged.items():
            self._tables[tbl] = tdf
            tdf.createOrReplaceTempView(tbl)
        return local_df(self.spark,
            [(name, n)], "table string, deleted bigint")

    # -- ENTITY verbs (`neumann_parser` EntityOp;
    #    `tensor_unified/src/lib.rs:475,516,562,708,804,690,839`) ----------

    @staticmethod
    def _entity_id(key: str) -> int:
        """Node-half id for an entity key: numeric keys are used directly
        (they address fixture nodes); string keys map to a stable md5-derived
        id in a reserved range (>= 2^40, far above the fixture id bases)."""
        if re.fullmatch(r"\d+", key):
            return int(key)
        import hashlib

        h = int.from_bytes(hashlib.md5(key.encode()).digest()[:8], "big")
        return (1 << 40) + (h % (1 << 40))

    def _entity_upsert(self, key: str, props: dict,
                       embedding: Optional[list] = None) -> None:
        import json

        label = str(props.get("label", "entity"))
        row = local_df(self.spark,
            [(key, label, json.dumps(props, sort_keys=True))],
            "key string, label string, props string")
        self._entity_props = self._entity_props.filter(
            ~F.col("key").eqNullSafe(key)).unionAll(row)
        nid = self._entity_id(key)
        node = local_df(self.spark, [(nid, label)], "id bigint, label string")
        # upsert = replace: validate against the store minus this entity's
        # node half, like update_node (constraint parity, lib.rs:3549)
        self._check_graph_write_constraints(
            "node", node, store=self._nodes.filter(F.col("id") != nid))
        self._nodes = (
            self._nodes.filter(F.col("id") != nid).unionAll(node))
        if embedding is not None:
            new = local_df(self.spark,
                [(key, [float(x) for x in embedding])],
                "key string, embedding array<float>")
            self._embeddings = self._embeddings.filter(
                ~F.col("key").eqNullSafe(key)).unionAll(new)
        self._checkpoint_overlays()

    _ENT_KEY = r"'([^']+)'"

    def _exec_entity(self, cmd: str) -> DataFrame:
        sub = (cmd.split(None, 2) + ["", ""])[1].upper()
        if sub in ("CREATE", "UPDATE"):
            m = self._require(
                re.match(
                    rf"ENTITY\s+{sub}\s+{self._ENT_KEY}\s*\{{(.*?)\}}"
                    r"(?:\s+EMBEDDING\s+\[(.+?)\])?\s*$",
                    cmd, re.I | re.S),
                f"ENTITY {sub} 'key' {{props}} [EMBEDDING [v, ...]]")
            key, props_s, emb_s = m.groups()
            emb = [float(x) for x in emb_s.split(",")] if emb_s else None
            self._entity_upsert(key, self._parse_props(props_s), emb)
            return local_df(self.spark,
                [(key, sub.lower() + "d")], "key string, status string")
        if sub == "GET":
            m = self._require(
                re.match(rf"ENTITY\s+GET\s+{self._ENT_KEY}\s*$", cmd, re.I),
                "ENTITY GET 'key'")
            key = m.group(1)
            has_emb = self._embeddings.filter(F.col("key") == key).limit(1)
            return (
                self._entity_props.filter(F.col("key") == key)
                .join(has_emb.select("key", F.lit(True).alias("has_embedding")),
                      "key", "left")
                .select("key", "label", "props",
                        F.coalesce("has_embedding", F.lit(False)).alias("has_embedding"))
            )
        if sub == "DELETE":
            m = self._require(
                re.match(rf"ENTITY\s+DELETE\s+{self._ENT_KEY}\s*$", cmd, re.I),
                "ENTITY DELETE 'key'")
            key = m.group(1)
            self._entity_props = self._entity_props.filter(F.col("key") != key)
            self.delete_node(self._entity_id(key), detach=True)
            self.delete_embedding(key)
            return local_df(self.spark,
                [(key, "deleted")], "key string, status string")
        if sub == "CONNECT":
            m = self._require(
                re.match(
                    rf"ENTITY\s+CONNECT\s+{self._ENT_KEY}\s*->\s*{self._ENT_KEY}"
                    r"\s*:\s*(\w+)\s*$", cmd, re.I),
                "ENTITY CONNECT 'from' -> 'to' : type")
            a, b, etype = m.groups()
            new = local_df(self.spark,
                [(self._entity_id(a), self._entity_id(b), etype, 1.0)],
                "src bigint, dst bigint, edge_type string, weight double")
            self._add_edges(new)
            self._checkpoint_overlays()
            return new
        if sub == "BATCH":
            m = self._require(
                re.match(r"ENTITY\s+BATCH\s+CREATE\s+\[(.*)\]\s*$", cmd, re.I | re.S),
                "ENTITY BATCH CREATE [{key: 'k', ...}, ...]")
            for body in re.findall(r"\{(.*?)\}", m.group(1), re.S):
                props = self._parse_props(body)
                key = str(props.pop("key"))
                self._entity_upsert(key, props)
            n = len(re.findall(r"\{", m.group(1)))
            return local_df(self.spark, [(n,)], "created bigint")
        raise ValueError(
            "expected ENTITY CREATE|GET|UPDATE|DELETE|CONNECT|BATCH CREATE")

    # -- GRAPH algorithm / index verbs (`neumann_parser` parse_graph;
    #    GraphAlgorithmOp + GraphIndexOp) — run over the session overlay
    #    graph with the distributed primitives from graph/algorithms.py ----

    def _exec_graph(self, cmd: str) -> DataFrame:
        from neumann_spark.graph import algorithms as alg

        rest = cmd.split(None, 1)[1] if len(cmd.split(None, 1)) > 1 else ""
        up = rest.upper()
        opts = {
            k.upper(): float(v)
            for k, v in re.findall(
                r"(DAMPING|TOLERANCE|ITERATIONS|SAMPLING|RESOLUTION|PASSES)"
                r"\s+([\d.]+)", rest, re.I)
        }
        tm = re.search(r"EDGE[_\s]+TYPE\s+(\w+)", rest, re.I)
        e = self._edges
        if tm:
            e = e.filter(F.col("edge_type") == tm.group(1))
        dm = re.search(r"\b(OUTGOING|INCOMING|BOTH)\b", rest, re.I)
        direction = (dm.group(1).upper() if dm else "OUTGOING")

        if up.startswith("PAGERANK"):
            de = e.select("src", "dst")
            if direction == "INCOMING":
                de = de.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            elif direction == "BOTH":
                de = undirected_edges(e).select("src", "dst")
            return alg.pagerank(
                self._nodes, de,
                iters=int(opts.get("ITERATIONS", alg.PR_ITERS)),
                damping=opts.get("DAMPING", alg.DAMPING))
        ue = undirected_edges(e)
        if up.startswith("BETWEENNESS CENTRALITY"):
            ratio = opts.get("SAMPLING", 0.1)
            mod = max(1, round(1.0 / max(ratio, 1e-9)))
            srcs = self._nodes.filter(F.col("id") % mod == 1).select(
                F.col("id").alias("source"), F.col("id").alias("node"))
            return alg.betweenness_distributed(ue.select("src", "dst"), srcs)
        if up.startswith("CLOSENESS CENTRALITY"):
            srcs = self._nodes.filter(F.col("id") % 10 == 1).select(
                F.col("id").alias("source"), F.col("id").alias("node"))
            sp = bfs_levels(ue.select("src", "dst"), srcs, 3).filter(F.col("dist") > 0)
            return sp.groupBy("source").agg(
                F.count("*").alias("n_reached"),
                F.round(F.count("*").cast("double") / F.sum("dist"), 6)
                .alias("closeness"))
        if up.startswith("EIGENVECTOR CENTRALITY"):
            return alg.eigenvector_centrality(
                self._nodes, ue, iters=int(opts.get("ITERATIONS", alg.EV_ITERS)))
        if up.startswith("LOUVAIN COMMUNITIES"):
            if opts.get("RESOLUTION", 1.0) != 1.0:
                raise ValueError("only RESOLUTION 1.0 is supported")
            return alg.louvain_communities(
                ue, rounds=int(opts.get("PASSES", alg.LOUVAIN_ROUNDS)))
        if up.startswith("LABEL PROPAGATION"):
            return alg.label_propagation(
                self._nodes, ue, rounds=int(opts.get("ITERATIONS", alg.LPA_ROUNDS)))
        if up.startswith("INDEX"):
            return self._exec_graph_index(rest)
        raise ValueError(
            "expected GRAPH PAGERANK | BETWEENNESS CENTRALITY | CLOSENESS "
            "CENTRALITY | EIGENVECTOR CENTRALITY | LOUVAIN COMMUNITIES | "
            "LABEL PROPAGATION | INDEX ...")

    def _exec_graph_index(self, rest: str) -> DataFrame:
        """GRAPH INDEX CREATE/DROP/SHOW — declared indexes are a semantic
        no-op for a scan engine (the partitioning/pruning concern is noted
        in SURVEY.md §2.9); tracked so SHOW round-trips like the reference's
        index registry."""
        self._cache_clear()
        m = re.match(
            r"INDEX\s+CREATE\s+ON\s+(?:(NODE|EDGE)\s+PROPERTY\s+(\w+)"
            r"|(LABEL)|(EDGE\s+TYPE))\s*$", rest, re.I)
        if m:
            if m.group(1):
                key = f"{m.group(1).lower()}:{m.group(2)}"
            elif m.group(3):
                key = "node:label"
            else:
                key = "edge:type"
            self._graph_indexes[key] = "created"
            return local_df(self.spark,
                [(key, "created")], "index string, status string")
        m = re.match(r"INDEX\s+DROP\s+ON\s+(NODE|EDGE)\s+PROPERTY\s+(\w+)\s*$",
                     rest, re.I)
        if m:
            key = f"{m.group(1).lower()}:{m.group(2)}"
            self._graph_indexes.pop(key, None)
            return local_df(self.spark,
                [(key, "dropped")], "index string, status string")
        m = self._require(
            re.match(r"INDEX\s+SHOW\s+ON\s+(NODE|EDGE)\s*$", rest, re.I),
            "GRAPH INDEX CREATE ON NODE|EDGE PROPERTY p | ON LABEL | "
            "ON EDGE TYPE | DROP ... | SHOW ON NODE|EDGE")
        kind = m.group(1).lower()
        rows = [(k, v) for k, v in sorted(self._graph_indexes.items())
                if k.startswith(kind)]
        return local_df(self.spark, rows, "index string, status string")

    # -- CONSTRAINT verbs (`neumann_parser` parse_constraint;
    #    GraphConstraintOp) ------------------------------------------------

    _NODE_PROPS = ("id", "label")
    _EDGE_PROPS = ("src", "dst", "edge_type", "weight")

    def _exec_constraint(self, cmd: str) -> DataFrame:
        sub = (cmd.split(None, 2) + ["", ""])[1].upper()
        if sub == "CREATE":
            m = self._require(
                re.match(
                    r"CONSTRAINT\s+CREATE\s+(\w+)\s+ON\s+(NODE|EDGE)"
                    r"(?:\s+(?!PROPERTY)(\w+))?\s+PROPERTY\s+(\w+)\s+"
                    r"(?:(UNIQUE)|(EXISTS)|TYPE\s+(\w+))\s*$", cmd, re.I),
                "CONSTRAINT CREATE name ON NODE|EDGE [label] PROPERTY p "
                "UNIQUE|EXISTS|TYPE t")
            name, target, label, prop = m.group(1), m.group(2).upper(), m.group(3), m.group(4)
            ctype = "unique" if m.group(5) else "exists" if m.group(6) else f"type:{m.group(7)}"
            known = self._NODE_PROPS if target == "NODE" else self._EDGE_PROPS
            if prop not in known:
                raise ValueError(f"unknown {target.lower()} property {prop!r}")
            violations = self._constraint_violations(target, label, prop, ctype)
            if violations > 0:
                raise ValueError(
                    f"constraint {name!r} violated by {violations} existing "
                    f"{target.lower()}s")
            self._constraints[name] = (target, label, prop, ctype)
            return local_df(self.spark,
                [(name, "created")], "constraint string, status string")
        if sub == "DROP":
            m = self._require(re.match(r"CONSTRAINT\s+DROP\s+(\w+)\s*$", cmd, re.I),
                              "CONSTRAINT DROP name")
            self._constraints.pop(m.group(1), None)
            return local_df(self.spark,
                [(m.group(1), "dropped")], "constraint string, status string")
        if sub == "LIST":
            rows = [(n, t, l, p, c) for n, (t, l, p, c)
                    in sorted(self._constraints.items())]
            return local_df(self.spark,
                rows,
                "constraint string, target string, label string, "
                "property string, type string")
        m = self._require(re.match(r"CONSTRAINT\s+GET\s+(\w+)\s*$", cmd, re.I),
                          "CONSTRAINT CREATE|DROP|LIST|GET")
        name = m.group(1)
        if name not in self._constraints:
            raise KeyError(f"no constraint {name!r}")
        t, l, p, c = self._constraints[name]
        return local_df(self.spark,
            [(name, t, l, p, c)],
            "constraint string, target string, label string, "
            "property string, type string")

    def _constraint_violations(self, target: str, label: Optional[str],
                               prop: str, ctype: str) -> int:
        """Validate a new constraint against the current overlay (the
        reference validates on write; recompute-and-replace validates the
        store once at CREATE, then on subsequent creates via re-CREATE)."""
        df = self._nodes if target == "NODE" else self._edges
        if label is not None:
            col = "label" if target == "NODE" else "edge_type"
            df = df.filter(F.col(col) == label)
        if ctype == "unique":
            dup = df.groupBy(prop).agg(F.count("*").alias("n")).filter(F.col("n") > 1)
            return dup.count()
        if ctype == "exists":
            return df.filter(F.col(prop).isNull()).count()
        want = ctype.split(":", 1)[1].lower()
        have = dict(df.dtypes)[prop]
        compat = {"int": {"bigint", "int"}, "integer": {"bigint", "int"},
                  "bigint": {"bigint"}, "float": {"double", "float"},
                  "double": {"double"}, "string": {"string"}, "text": {"string"}}
        return 0 if have in compat.get(want, {want}) else df.count()

    # -- BATCH graph verbs (`neumann_parser` parse_batch; GraphBatchOp) ----

    def _exec_batch(self, cmd: str) -> DataFrame:
        m = self._require(
            re.match(r"BATCH\s+(CREATE|DELETE|UPDATE)\s+(NODES?|EDGES?)\s+\[(.*)\]\s*$",
                     cmd, re.I | re.S),
            "BATCH CREATE|DELETE|UPDATE NODES|EDGES [...]")
        verb, kind, body = m.group(1).upper(), m.group(2).upper(), m.group(3)
        is_node = kind.startswith("NODE")
        if verb == "CREATE":
            defs = [self._parse_props(b)
                    for b in re.findall(r"\{(.*?)\}", body, re.S)]
            if is_node:
                base = self._next_node_id()
                rows = [(int(d.get("id", base + i)), str(d.get("label", "node")))
                        for i, d in enumerate(defs)]
                new = local_df(self.spark, rows, "id bigint, label string")
                self._add_nodes(new)
            else:
                rows = [(int(d["from"]), int(d["to"]),
                         str(d.get("type", "edge")),
                         float(d.get("weight", 1.0))) for d in defs]
                new = local_df(self.spark,
                    rows, "src bigint, dst bigint, edge_type string, weight double")
                self._add_edges(new)
            self._checkpoint_overlays()
            return local_df(self.spark, [(len(rows),)], "created bigint")
        if verb == "DELETE":
            ids = [int(x) for x in re.findall(r"\d+", body)]
            if is_node:
                for nid in ids:
                    self.delete_node(nid, detach=True)
            else:
                # edge ids are (src, dst) pairs flattened
                for a, b in zip(ids[::2], ids[1::2]):
                    self.delete_edge(a, b)
            return local_df(self.spark,
                [(len(ids) if is_node else len(ids) // 2,)], "deleted bigint")
        if not is_node:
            raise ValueError("BATCH UPDATE supports NODES only")
        n = 0
        for b in re.findall(r"\{(.*?)\}", body, re.S):
            d = self._parse_props(b)
            if "label" in d:
                self.update_node(int(d["id"]), str(d["label"]))
            n += 1
        return local_df(self.spark, [(n,)], "updated bigint")

    # -- AGGREGATE graph verbs (`neumann_parser` parse_aggregate_stmt;
    #    GraphAggregateOp) -------------------------------------------------

    _AGG_FNS = {"SUM": F.sum, "AVG": F.avg, "MIN": F.min, "MAX": F.max,
                "COUNT": F.count}

    def _exec_aggregate(self, cmd: str) -> DataFrame:
        m = self._require(
            re.match(
                r"AGGREGATE\s+(NODE|EDGE)\s+PROPERTY\s+(\w+)\s+"
                r"(SUM|AVG|MIN|MAX|COUNT)"
                r"(?:\s+(?:BY\s+(?:LABEL|TYPE)|ON)\s+(\w+))?"
                r"(?:\s+WHERE\s+(.+))?\s*$", cmd, re.I | re.S),
            "AGGREGATE NODE|EDGE PROPERTY p SUM|AVG|MIN|MAX|COUNT "
            "[BY LABEL|TYPE x] [WHERE cond]")
        target, prop, fn, by, where = m.groups()
        is_node = target.upper() == "NODE"
        known = self._NODE_PROPS if is_node else self._EDGE_PROPS
        if prop not in known:
            raise ValueError(f"unknown {target.lower()} property {prop!r}")
        df = self._nodes if is_node else self._edges
        if by:
            df = df.filter(F.col("label" if is_node else "edge_type") == by)
        if where:
            df = df.filter(where)
        agg = self._AGG_FNS[fn.upper()](prop).alias(f"{fn.lower()}_{prop}")
        return df.agg(agg)

    # -- SAVE / LOAD snapshots (`neumann_shell/src/lib.rs:391,425,461` —
    #    handle_save / handle_save_compressed / handle_load over
    #    `tensor_store` save_snapshot/load_snapshot) ----------------------

    # every mutable session store that a snapshot must carry; schemas are
    # recorded in the manifest so empty overlays round-trip losslessly
    # (an empty parquet directory cannot self-describe its schema)
    _SNAPSHOT_STORES = (
        ("_nodes", "nodes"),
        ("_edges", "edges"),
        ("_embeddings", "embeddings"),
        ("_extra_labels", "extra_labels"),
        ("_emb_meta", "emb_meta"),
        ("_emb_coll", "emb_coll"),
        ("_entity_props", "entity_props"),
    )
    _SNAPSHOT_MANIFEST = "neumann_snapshot.json"

    @staticmethod
    def _snapshot_path(raw: str, verb: str) -> str:
        """Path operand, optionally single- or double-quoted — the shell
        accepts all three spellings (`extract_path`, lib.rs:585-614)."""
        p = raw.strip()
        if len(p) >= 2 and p[0] == p[-1] and p[0] in "'\"":
            p = p[1:-1]
        if not p:
            raise ValueError(f"Usage: {verb} 'path/to/dir' or {verb} path/to/dir")
        return p

    def _exec_save(self, cmd: str) -> DataFrame:
        """`SAVE [COMPRESSED] '<dir>'` — persist the full session state as
        a parquet snapshot directory + JSON manifest. The reference writes
        one binary tensor-store image (`save_snapshot`); the Spark-first
        snapshot is a parquet directory per store — written distributed
        (every executor writes its partitions), readable by ANY parquet
        reader, and at 100 TB the write parallelizes instead of funnelling
        through one serializer. COMPRESSED selects zstd (the analog of
        `tensor_compress::CompressionConfig::balanced`) over snappy.
        The manifest (constraint/FK/index metadata + store schemas) is
        tiny JSON, written through the Hadoop FileSystem API so snapshots
        work on any Spark-reachable filesystem (hdfs://, s3a://, local)."""
        self._no_tx("SAVE")
        m = self._require(
            re.match(r"SAVE(\s+COMPRESSED)?\s+(.+?)\s*$", cmd, re.I | re.S),
            "SAVE [COMPRESSED] 'path/to/dir'")
        compressed, raw = m.groups()
        # `SAVE COMPRESSED` with no operand: the optional group backtracks
        # and the keyword itself becomes the "path" — reject, don't write a
        # snapshot into a directory literally named COMPRESSED
        if not compressed and raw.strip().upper() == "COMPRESSED":
            raise ValueError("Usage: SAVE [COMPRESSED] 'path/to/dir'")
        path = self._snapshot_path(raw, "SAVE")
        n = self._save_snapshot(path, compressed=bool(compressed))
        # arm a FRESH WAL epoch: the snapshot holds all state up to now,
        # so recovery = this snapshot + commands journaled after it. The
        # epoch id is the snapshot's own data_dir nonce: a crash between
        # manifest publish and this WAL reset leaves the NEW manifest next
        # to the OLD epoch's log, and the epoch mismatch makes RECOVER
        # treat that stale log as empty instead of double-applying it.
        self._wal_path, self._wal_entries = path, []
        self._wal_epoch = self._last_manifest_data_dir
        self._wal_write()
        return local_df(self.spark,
            [(path, n, bool(compressed))],
            "path string, stores bigint, compressed boolean",
        )

    # -- manifest I/O through the JVM Hadoop FileSystem: a snapshot path
    #    can live on any filesystem Spark itself can write parquet to

    def _hadoop_fs(self, path_str: str):
        jvm = self.spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path_str)
        return p.getFileSystem(self.spark._jsc.hadoopConfiguration()), p

    def _manifest_write(self, mpath: str, manifest: dict) -> None:
        import json as _json

        fs, p = self._hadoop_fs(mpath)
        tmp = p.suffix(".tmp")
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(_json.dumps(manifest).encode("utf-8")))
        finally:
            out.close()
        # atomic publish: FileContext.rename(OVERWRITE) replaces the old
        # manifest in one FS operation where the filesystem supports it
        # (HDFS, local), so a crash mid-publish leaves EITHER the old
        # manifest (its data dir untouched) or the new one — never a
        # window with no manifest at all. Fallback for filesystems without
        # FileContext semantics: delete+rename (small non-atomic gap).
        jvm = self.spark._jvm
        try:
            fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                p.toUri(), self.spark._jsc.hadoopConfiguration())
            klass = getattr(jvm.org.apache.hadoop.fs, "Options$Rename")
            opts = self.spark.sparkContext._gateway.new_array(klass, 1)
            opts[0] = klass.OVERWRITE  # varargs need a typed Java array
            fc.rename(tmp, p, opts)
        except Exception:
            self._publish_manifest_fallback(fs, tmp, p, mpath)

    @staticmethod
    def _publish_manifest_fallback(fs, tmp, p, mpath: str) -> None:
        """Publish tmp -> p without FileContext rename-overwrite. The
        previous manifest is moved ASIDE (not deleted) so a failed or
        interrupted tmp->final rename leaves the prior snapshot loadable;
        it is restored if the publish fails."""
        bak = p.suffix(".bak")
        had_old = fs.exists(p)
        if had_old:
            fs.delete(bak, False)
            if not fs.rename(p, bak):
                raise ValueError(
                    f"Failed to publish snapshot manifest {mpath!r}")
        try:
            ok = fs.rename(tmp, p)
        except Exception:  # some FS impls throw instead of returning false
            ok = False
        if not ok:
            if had_old:
                fs.rename(bak, p)  # best-effort restore
            raise ValueError(
                f"Failed to publish snapshot manifest {mpath!r}")
        if had_old:
            fs.delete(bak, False)

    def _manifest_read(self, mpath: str) -> "Optional[dict]":
        import json as _json

        fs, p = self._hadoop_fs(mpath)
        if not fs.exists(p):
            # self-healing for the non-FileContext publish path: a crash
            # between rename(p, bak) and rename(tmp, p) strands the prior
            # manifest at .bak with nothing at p — fall back so the
            # snapshot stays loadable across that window
            bak = p.suffix(".bak")
            if not fs.exists(bak):
                return None
            p = bak
        stream = fs.open(p)
        try:
            raw = self.spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8")
        finally:
            stream.close()
        return _json.loads(raw)

    def _save_snapshot(self, path: str, compressed: bool = False) -> int:
        """Write the session state under `path`; returns the store count.

        Every save writes into a FRESH `data-<nonce>` subdirectory and then
        publishes it by rewriting the manifest — never overwriting files in
        place. This is load-bearing, not cosmetic: after `LOAD '<p>'` (or
        ROLLBACK) the session state is a set of lazy scans over the
        snapshot's own files, so an in-place `SAVE '<p>'` would delete the
        very part files its write stage is reading (confirmed failure +
        on-disk corruption). Superseded data dirs are left for a vacuum
        once no reader can reference them — the same reclaim contract as
        any MVCC table format."""
        import os as _os
        import uuid as _uuid

        codec = "zstd" if compressed else "snappy"
        data_dir = f"data-{_uuid.uuid4().hex[:12]}"
        self._last_manifest_data_dir = data_dir
        stores: dict[str, str] = {}  # subdir -> schema json
        writes: list[tuple[DataFrame, str]] = []
        for attr, sub in self._SNAPSHOT_STORES:
            df = getattr(self, attr)
            stores[sub] = df.schema.json()
            writes.append((df, sub))
        tables: dict[str, str] = {}
        for name, df in self._tables.items():
            tables[name] = df.schema.json()
            writes.append((df, f"tables/{name}"))
        # independent store/table outputs into a fresh data_dir — write
        # them concurrently from driver threads so the per-store job +
        # commit barriers overlap instead of serializing (§5); the
        # manifest still publishes only after every write returned
        run_actions_parallel([
            (lambda d=df, s=sub: (
                d.write.mode("overwrite").option("compression", codec)
                .parquet(_os.path.join(path, data_dir, s))))
            for df, sub in writes
        ])

        manifest = {
            "format": "neumann_spark_snapshot/1",
            "compressed": compressed,
            "data_dir": data_dir,
            "stores": stores,
            "tables": tables,
            "fks": self._fks,
            "table_constraints": self._table_constraints,
            "graph_constraints": {
                k: list(v) for k, v in self._constraints.items()
            },
            "graph_indexes": self._graph_indexes,
        }
        self._manifest_write(
            _os.path.join(path, self._SNAPSHOT_MANIFEST), manifest)
        return len(writes)

    def _exec_load(self, cmd: str) -> DataFrame:
        """`LOAD '<dir>' [RECOVER]` — replace the entire session state with
        a snapshot, mirroring `handle_load`'s whole-router swap
        (`*self.router.write() = QueryRouter::with_shared_store(store)`).
        RECOVER additionally replays the snapshot's WAL
        (`tensor_store/src/wal.rs`; durable recover
        `relational_engine/src/lib.rs:2148-2240`): every mutating command
        journaled since that SAVE re-executes in order, restoring the
        state as of the last mutation, not the last snapshot; the WAL
        stays armed so later mutations extend the same epoch. A plain
        LOAD restores the snapshot base state and DISARMS the log —
        mutations after a non-recovering load are a fork, and appending
        them to the old epoch would corrupt replay."""
        self._no_tx("LOAD")
        m = self._require(
            re.match(r"LOAD\s+(.+?)(\s+RECOVER)?\s*$", cmd, re.I | re.S),
            "LOAD 'path/to/dir' [RECOVER]")
        raw, recover = m.groups()
        path = self._snapshot_path(raw, "LOAD")
        # read (and validate) the log BEFORE swapping any state, so a
        # corrupt WAL aborts with the session untouched
        entries = self._wal_read(path) if recover else []
        n = self._load_snapshot(path)
        # capture the LOADED snapshot's epoch NOW: a replayed CHECKPOINT
        # below calls _save_snapshot (to the checkpoint dir), which
        # overwrites _last_manifest_data_dir with the checkpoint's own
        # nonce — re-arming from that would stamp the log with the wrong
        # epoch and make the NEXT recovery replay an empty log
        epoch = self._last_manifest_data_dir
        self._wal_path, self._wal_entries = None, []
        if not recover:
            return local_df(self.spark,
                [(path, n)], "path string, stores bigint")
        self._wal_replaying = True
        try:
            for i, entry in enumerate(entries):
                try:
                    self.execute(entry)
                except Exception as e:  # noqa: BLE001
                    # restore the consistent snapshot base state rather
                    # than leaving a half-replayed session behind
                    self._wal_replaying = False
                    self._load_snapshot(path)
                    raise ValueError(
                        f"WAL replay failed at entry {i} ({entry[:80]!r}); "
                        f"session restored to the snapshot base state: "
                        f"{e}") from e
        finally:
            self._wal_replaying = False
        self._wal_path, self._wal_entries = path, entries
        self._wal_epoch = epoch
        return local_df(self.spark,
            [(path, n, len(entries))],
            "path string, stores bigint, replayed bigint")

    def _load_snapshot(self, path: str) -> int:
        """Whole-state swap from a snapshot dir; returns the store count."""
        import json as _json
        import os as _os

        from pyspark.sql.types import StructType

        mpath = _os.path.join(path, self._SNAPSHOT_MANIFEST)
        manifest = self._manifest_read(mpath)
        if manifest is None:
            raise ValueError(f"Failed to load: no snapshot at {path!r}")
        if manifest.get("format") != "neumann_spark_snapshot/1":
            raise ValueError(
                f"Failed to load: unrecognized snapshot format in {path!r}")
        # validate the manifest shape BEFORE touching any session state: a
        # corrupt/hand-edited manifest must surface as the typed ValueError
        # contract, not a bare KeyError mid-swap with state half-replaced
        required = ("stores", "tables", "fks", "table_constraints",
                    "graph_constraints", "graph_indexes")
        missing = [k for k in required if not isinstance(manifest.get(k), dict)]
        missing += [f"stores/{sub}" for _, sub in self._SNAPSHOT_STORES
                    if sub not in manifest.get("stores", {})]
        if missing:
            raise ValueError(
                f"corrupt snapshot manifest {mpath!r}: missing {missing}")
        base = _os.path.join(path, manifest.get("data_dir", ""))
        self._last_manifest_data_dir = manifest.get("data_dir", "")

        def _read(sub: str, schema_json: str) -> DataFrame:
            schema = StructType.fromJson(_json.loads(schema_json))
            return self.spark.read.schema(schema).parquet(
                _os.path.join(base, sub))

        for attr, sub in self._SNAPSHOT_STORES:
            setattr(self, attr, _read(sub, manifest["stores"][sub]))
        stale = set(self._tables) - set(manifest["tables"])
        self._tables = {}
        for name, schema_json in manifest["tables"].items():
            df = _read(f"tables/{name}", schema_json)
            self._tables[name] = df
            df.createOrReplaceTempView(name)
        # session tables absent from the snapshot: drop their temp views,
        # and un-shadow any fixture table of the same name
        for name in stale:
            self.spark.catalog.dropTempView(name)
            if name in TABLES:
                load(self.spark, self.sf_dir, name).createOrReplaceTempView(name)
        self._fks = manifest["fks"]
        self._table_constraints = manifest["table_constraints"]
        self._constraints = {
            k: tuple(v) for k, v in manifest["graph_constraints"].items()
        }
        self._graph_indexes = manifest["graph_indexes"]
        self._cursors = {}  # cursors snapshot router-local state, like the
        # reference's (query_router/src/cursor.rs dies with the old router)
        self._mutations += 1
        return len(manifest["tables"]) + len(self._SNAPSHOT_STORES)

    # -- CHECKPOINT / ROLLBACK / CHECKPOINTS (`neumann_parser` ast.rs
    #    CheckpointStmt/RollbackStmt/CheckpointsStmt; router
    #    `query_router/src/lib.rs:2781-2850` exec_checkpoint/rollback over
    #    `tensor_checkpoint`) ----------------------------------------------

    def _checkpoint_root(self) -> str:
        """Session-scoped checkpoint store, created lazily — the analog of
        the reference's blob-backed checkpoint manager. Each checkpoint is
        a full parquet snapshot under this root (at 100 TB these would be
        incremental/ref-counted; a full copy keeps rollback O(swap) and is
        the semantics the reference guarantees). Lives under the
        Spark-visible warehouse scratch (`scratch_dir`) — checkpoint
        snapshots are written and re-read through Spark, so the store
        must be executor-reachable on any master."""
        import atexit

        from neumann_spark.session import scratch_dir

        if not hasattr(self, "_cp_root"):
            self._cp_root, cp_cleanup = scratch_dir(
                self.spark, "checkpoints_")
            # checkpoints are session-scoped (like the reference's
            # in-process checkpoint manager): reclaim the whole root at
            # interpreter exit so repeated sessions don't fill the disk;
            # superseded data-<nonce> dirs inside it go with it
            def _cp_reap(cleanup=cp_cleanup) -> None:
                import contextlib as _ctx
                with _ctx.suppress(Exception):  # JVM may be gone at exit
                    cleanup()

            atexit.register(_cp_reap)
            self._cp_seq = 0
            self._cp_log: "OrderedDict[str, int]" = OrderedDict()
        return self._cp_root

    def _exec_checkpoint(self, cmd: str) -> DataFrame:
        """`CHECKPOINT ['name']` — snapshot the whole session state under a
        checkpoint id (auto `cp_<n>` when unnamed, like the manager's
        generated ids)."""
        import os as _os

        self._no_tx("CHECKPOINT")
        m = self._require(
            re.match(r"CHECKPOINT(?:\s+(.+?))?\s*$", cmd, re.I | re.S),
            "CHECKPOINT ['name']")
        root = self._checkpoint_root()
        # validate an explicit name BEFORE burning a sequence number, so a
        # rejected name ('..', 'a/b') doesn't make the next unnamed
        # CHECKPOINT skip a cp_<n>
        explicit = (self._snapshot_path(m.group(1), "CHECKPOINT")
                    if m.group(1) else None)
        # strict allow-list: a name is a single path component, never a
        # traversal ('..' would write the snapshot into the shared parent
        # dir; '.' into the root itself; '/'-separated names escape it)
        if explicit is not None and (
                explicit in (".", "..")
                or not re.fullmatch(r"[\w.\-]+", explicit)):
            raise ValueError(f"invalid checkpoint name {explicit!r}")
        self._cp_seq += 1
        name = explicit if explicit is not None else f"cp_{self._cp_seq}"
        self._save_snapshot(_os.path.join(root, name))
        self._cp_log[name] = self._cp_seq
        self._cp_log.move_to_end(name)  # re-created name = most recent
        # journal the RESOLVED name (unnamed checkpoints journal their
        # cp_<n>), so LOAD … RECOVER re-registers every post-SAVE
        # checkpoint: at its log position the session state equals the
        # state the checkpoint originally captured, so re-saving under
        # the same name reproduces it even in a fresh session
        self._wal_append(f"CHECKPOINT '{name}'")
        return local_df(self.spark,
            [(name, "created")], "checkpoint string, status string")

    def _exec_rollback(self, cmd: str) -> DataFrame:
        """`ROLLBACK` (bare — transaction abort) or `ROLLBACK [TO] 'name'`
        (checkpoint restore, `cp_guard.rollback(&target, store)`): the
        load path, aimed at the managed dir. Later checkpoints survive
        (the reference keeps the full history; rollback does not truncate
        it)."""
        import os as _os

        if re.fullmatch(r"ROLLBACK(?:\s+(?:TRANSACTION|WORK))?",
                        cmd.strip(), re.I):
            return self._exec_tx_rollback()
        self._no_tx("ROLLBACK TO")
        m = self._require(
            re.match(r"ROLLBACK\s+(?:TO\s+)?(.+?)\s*$", cmd, re.I | re.S),
            "ROLLBACK TO 'name'")
        name = self._snapshot_path(m.group(1), "ROLLBACK")
        if name.upper() == "TO":  # `ROLLBACK TO` with no operand backtracks
            raise ValueError("expected ROLLBACK TO 'name'")
        if not hasattr(self, "_cp_log") or name not in self._cp_log:
            raise ValueError(f"unknown checkpoint {name!r}")
        self._load_snapshot(_os.path.join(self._cp_root, name))
        # the restored state no longer matches any armed snapshot+log
        # epoch — disarm (same reasoning as a plain LOAD)
        self._wal_path, self._wal_entries = None, []
        return local_df(self.spark,
            [(name, "rolled_back")], "checkpoint string, status string")

    # -- BEGIN / COMMIT / ROLLBACK transactions (`relational_engine/src/
    #    transaction.rs:1-945` begin/commit/rollback; router BEGIN dispatch
    #    `query_router/src/lib.rs:1969+`). Scope matches the reference's
    #    execution model: single-session statement-list atomicity — BEGIN
    #    forks the in-memory state (the checkpoint mechanism without the
    #    snapshot write), COMMIT discards the fork (current state wins and
    #    the held WAL entries publish atomically), ROLLBACK restores the
    #    fork. No concurrency/MVCC — the reference is single-node too. ----

    # metadata dicts that mutating commands rebuild or mutate in place;
    # deep-copied at BEGIN (small, plain-data schema/constraint
    # registries). `_tables` is handled separately: its values are
    # immutable DataFrame plans, so a shallow dict copy suffices (and
    # deepcopy cannot traverse a DataFrame)
    _TX_DICT_ATTRS = ("_fks", "_table_constraints",
                      "_constraints", "_graph_indexes")

    def _no_tx(self, verb: str) -> None:
        """Snapshot machinery is ill-defined mid-transaction (it would
        persist, or swap in, uncommitted state) — typed refusal."""
        if self._tx_fork is not None:
            raise ValueError(
                f"{verb} is not allowed inside a transaction "
                "(COMMIT or ROLLBACK first)")

    def _exec_begin(self, cmd: str) -> DataFrame:
        import copy as _copy

        self._require(
            re.fullmatch(r"BEGIN(?:\s+(?:TRANSACTION|WORK))?",
                         cmd.strip(), re.I),
            "BEGIN [TRANSACTION]")
        if self._tx_fork is not None:
            raise ValueError("transaction already in progress")
        fork: dict = {a: getattr(self, a) for a, _ in self._SNAPSHOT_STORES}
        fork["_tables"] = dict(self._tables)
        for a in self._TX_DICT_ATTRS:
            fork[a] = _copy.deepcopy(getattr(self, a))
        self._tx_fork = fork
        self._tx_wal_buffer = []
        return local_df(self.spark,
            [("begin", "ok")], "tx string, status string")

    def _exec_commit(self, cmd: str) -> DataFrame:
        self._require(
            re.fullmatch(r"COMMIT(?:\s+(?:TRANSACTION|WORK))?",
                         cmd.strip(), re.I),
            "COMMIT")
        if self._tx_fork is None:
            raise ValueError("no transaction in progress")
        self._tx_fork = None
        if self._tx_wal_buffer and self._wal_path is not None:
            # atomic durability: the tx's commands land in the journal as
            # one whole-file publish, only now
            self._wal_entries.extend(self._tx_wal_buffer)
            self._wal_write()
        self._tx_wal_buffer = []
        return local_df(self.spark,
            [("commit", "ok")], "tx string, status string")

    def _exec_tx_rollback(self) -> DataFrame:
        if self._tx_fork is None:
            raise ValueError("no transaction in progress")
        fork, self._tx_fork = self._tx_fork, None
        self._tx_wal_buffer = []
        created = set(self._tables)
        for attr, value in fork.items():
            setattr(self, attr, value)
        # temp views: drop tables created inside the tx (un-shadowing any
        # fixture table of the same name), re-point every surviving view
        # at its pre-BEGIN DataFrame version
        for name in created - set(self._tables):
            self.spark.catalog.dropTempView(name)
            if name in TABLES:
                load(self.spark, self.sf_dir, name).createOrReplaceTempView(
                    name)
        for name, df in self._tables.items():
            df.createOrReplaceTempView(name)
        self._mutations += 1
        return local_df(self.spark,
            [("rollback", "ok")], "tx string, status string")

    def _exec_checkpoints(self, cmd: str) -> DataFrame:
        """`CHECKPOINTS [LIMIT n]` — list checkpoints, most recent first."""
        m = self._require(
            re.match(r"CHECKPOINTS(?:\s+LIMIT\s+(\d+))?\s*$", cmd, re.I),
            "CHECKPOINTS [LIMIT n]")
        rows = []
        if hasattr(self, "_cp_log"):
            rows = [(n, s) for n, s in reversed(self._cp_log.items())]
        if m.group(1):
            rows = rows[: int(m.group(1))]
        return local_df(self.spark,
            rows, "checkpoint string, seq bigint")
