"""Driver-contract shape tests."""

from __future__ import annotations


def test_contract_shape():
    import __spark_entry__ as mod

    qs, oracles = mod.queries(), mod.oracle_sql()
    assert len(qs) >= 50, f"expected broad coverage, got {len(qs)}"
    assert set(oracles) <= set(qs)
    for name, fn in qs.items():
        assert callable(fn), name
    # oracle coverage should dominate (rows-only is the exception)
    assert len(oracles) >= 0.7 * len(qs)


def test_queries_idempotent():
    import __spark_entry__ as mod

    assert set(mod.queries()) == set(mod.queries())


def test_entry_runs(spark):
    import __spark_entry__ as mod

    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"nation", "revenue"}


def test_selfcheck_oracle_type_audit_flags_uncast_sum():
    """The selfcheck typing audit must flag a bare integer SUM (DuckDB
    widens it to HUGEINT — the bug class behind three rounds of red driver
    rows) and pass the CAST form."""
    from tests.conftest import SF_DIR, load_selfcheck

    mod = load_selfcheck()
    con = mod.make_duck(SF_DIR)
    bad = mod.audit_oracle_types(
        con,
        {
            "injected_bad": "SELECT SUM(r_regionkey) AS s FROM region",
            "cast_ok": "SELECT CAST(SUM(r_regionkey) AS BIGINT) AS s FROM region",
            "broken_sql": "SELECT FROM nowhere x x",
        },
    )
    assert "injected_bad" in bad and "HUGEINT" in bad["injected_bad"][0]
    assert "cast_ok" not in bad
    assert "broken_sql" in bad  # unplannable oracle is also a failure


def test_tool_imports_resolve():
    """Every `from neumann_spark… import name` and every attribute read off
    a package-module alias (`ann.<name>`) in tools/*.py and bench.py must
    resolve against the package. Read by AST: the tools import lazily
    inside functions, so importing them would not catch a removed name."""
    import ast
    import glob
    import importlib
    import os

    from tests.conftest import REPO_ROOT

    def is_module(name: str) -> bool:
        try:
            importlib.import_module(name)
            return True
        except ModuleNotFoundError:
            return False

    paths = sorted(glob.glob(os.path.join(REPO_ROOT, "tools", "*.py")))
    paths.append(os.path.join(REPO_ROOT, "bench.py"))
    missing, checked = [], set()
    for path in paths:
        rel = os.path.relpath(path, REPO_ROOT)
        with open(path) as fh:
            tree = ast.parse(fh.read())
        aliases: dict[str, str] = {}  # local name -> package module
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                aliases.update((a.asname, a.name) for a in node.names
                               if a.asname and a.name.startswith("neumann_spark"))
            elif (isinstance(node, ast.ImportFrom)
                  and (node.module or "").startswith("neumann_spark")):
                mod = importlib.import_module(node.module)
                for a in node.names:
                    checked.add((rel, node.module, a.name))
                    sub = f"{node.module}.{a.name}"
                    if is_module(sub):
                        aliases[a.asname or a.name] = sub
                    elif not hasattr(mod, a.name):
                        missing.append(f"{rel}: from {node.module} import {a.name}")
        for node in ast.walk(tree):
            if (isinstance(node, ast.Attribute)
                    and isinstance(node.value, ast.Name)
                    and node.value.id in aliases):
                mod_name = aliases[node.value.id]
                checked.add((rel, mod_name, node.attr))
                if not hasattr(importlib.import_module(mod_name), node.attr):
                    missing.append(f"{rel}: {node.value.id}.{node.attr}")
    assert not missing, missing
    # the guard must actually see the ANN tools' attribute reads
    assert sum(m == "neumann_spark.pipeline.ann" for _, m, _ in checked) > 20


def test_prioritized_rotates_least_recently_checked_first(tmp_path):
    """The driver sample rotates itself from the committed correctness
    rounds: never-checked names first, then by their newest checking round
    (oldest first); ties keep registration order, and with no round files
    the order is registration order."""
    import json

    from neumann_spark.registry import _prioritized

    names = dict.fromkeys(["a", "b", "c", "d", "e", "f"])
    assert _prioritized(names, str(tmp_path)) == list(names)
    rounds = {"CORRECTNESS_r01.json": ["a", "b", "c"],
              "CORRECTNESS_r02.json": ["a", "d"],
              "CORRECTNESS_r10.json": ["c"],
              "CORRECTNESS_r9.json": ["b", "gone"],
              "CORRECTNESS_r09_c8.json": ["e"],
              "BENCH_r11.json": ["f"]}
    for fname, checked in rounds.items():
        (tmp_path / fname).write_text(json.dumps(dict.fromkeys(checked, {})))
    # e, f: no matching round file; a, d: r02 (tie); b: r9 (numeric, not
    # lexical, round order); c: r10
    assert _prioritized(names, str(tmp_path)) == ["e", "f", "a", "d", "b", "c"]
