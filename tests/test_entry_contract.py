"""Driver-contract invariants: the first 50 queries() entries are the
driver's correctness-gate window — keep the curated cross-section stable —
and every oracle key must have a matching query."""

import __spark_entry__ as entry


def test_driver_window_is_the_curated_cross_section():
    qs = list(entry.queries())
    assert qs[:50] == entry.DRIVER_FIRST
    # the window must span operator families, not just the relational core
    non_relational = [
        n
        for n in qs[:50]
        if n.startswith(("dedup_", "sim_", "events_", "ext_", "docs_", "graph_", "mm_"))
    ]
    assert len(non_relational) >= 10


def test_every_oracle_key_has_a_query_and_no_orphans():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert set(oracles) <= set(qs)
    # r7 retired the rows-only category (r6 verdict item 2): every
    # registered name now has a value oracle — engine-specific outputs
    # (KMeans|| pairs, BPE merge tables) are registered AS their
    # engine-independent invariant surfaces, so the driver's `no_oracle`
    # err class can never recur.
    rows_only = set(qs) - set(oracles)
    assert rows_only == set()


def test_bench_skip_only_hides_twins():
    """BENCH_SKIP may hide exactly two kinds of redundant timings: SQL-text
    twins (same physical plans as the DataFrame forms) and value-gate twins
    (re-run an already-timed pipeline to check an engine-specific path)."""
    gate_twins = {
        "emb_pca_served",
        "graph_pagerank_ckpt",
        "graph_cc_chain_ckpt",
        "emb_encode_parity",
    }
    assert all(n.endswith("_sql") or n in gate_twins for n in entry.BENCH_SKIP)


def test_no_duplicate_registry_keys_in_module_sources():
    """A dict literal silently keeps only the LAST entry for a duplicated
    key, so registering two different queries under one name — or defining
    two functions with the same name in one module — ships whichever comes
    later with no error (this nearly happened with docs_sample_stratified).
    Scan each query module's and each oracle text module's source for
    duplicate dict keys and duplicate top-level def names."""
    import re
    from pathlib import Path

    pkg = Path("codecdb_queryengine_spark")
    mods = sorted(pkg.glob("queries/*.py")) + sorted(pkg.glob("oracle/*.py"))
    assert len(mods) > len(list(pkg.glob("queries/*.py")))
    for mod in mods:
        src = mod.read_text()
        defs = re.findall(r"^def (\w+)\(", src, re.M)
        dupes = {d for d in defs if defs.count(d) > 1}
        assert not dupes, f"{mod.name}: duplicate top-level defs {sorted(dupes)}"
        for dict_name in ("QUERIES", "ORACLE"):
            m = re.search(rf"^{dict_name}[^=]*= {{(.*?)^}}", src, re.M | re.S)
            if not m:
                continue
            keys = re.findall(r'^\s{4}"([^"]+)":', m.group(1), re.M)
            kd = {k for k in keys if keys.count(k) > 1}
            assert not kd, f"{mod.name} {dict_name}: duplicate keys {sorted(kd)}"


def test_oracle_text_lives_outside_the_engine():
    """Engine code and DuckDB oracle text stay apart.  Under queries/, only
    the TPC-H/SSB modules and the SQL-text surface that executes their text
    define an ORACLE mapping; every other oracle lives in the oracle
    package.  No module outside the oracle package imports it: the oracle
    text imports engine constants, never the reverse."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "codecdb_queryengine_spark"
    for path in sorted((pkg / "queries").glob("*.py")):
        tree = ast.parse(path.read_text())
        targets = [
            t
            for node in tree.body
            if isinstance(node, (ast.Assign, ast.AnnAssign))
            for t in (node.targets if isinstance(node, ast.Assign) else [node.target])
        ]
        if path.stem not in {"tpch", "ssb", "sqltext"}:
            assert not any(
                isinstance(t, ast.Name) and t.id == "ORACLE" for t in targets
            ), f"{path.name} defines ORACLE"
    for path in sorted(pkg.rglob("*.py")):
        if path.relative_to(pkg).parts[0] == "oracle":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom):
                names = [node.module or ""] + [f"{node.module}.{a.name}" for a in node.names]
            elif isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            else:
                continue
            bad = [
                n for n in names
                if n == "codecdb_queryengine_spark.oracle"
                or n.startswith("codecdb_queryengine_spark.oracle.")
            ]
            assert not bad, f"{path.relative_to(pkg)} imports {bad}"


def test_bench_lifecycle_set_matches_scratch_layout_gates():
    """BENCH_LIFECYCLE (the bench's isolated last-run family, r8 verdict
    item 4) must be EXACTLY the gates whose body builds a persisted
    scratch layout (_scratch_dir) — regenerated from the query sources so
    the set can't drift as gates are added or retired."""
    import os
    import re

    qdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "codecdb_queryengine_spark",
        "queries",
    )
    derived = set()
    for mod in sorted(f for f in os.listdir(qdir) if f.endswith(".py")):
        src = open(os.path.join(qdir, mod)).read()
        for fname, body in re.findall(
            r"def (\w+)\(spark: SparkSession, sf_dir: str\) -> DataFrame:"
            r"(.*?)(?=\ndef |\Z)",
            src,
            re.S,
        ):
            if "_scratch_dir(" in body or "_ensure_layout(" in body:
                derived.add(fname)
    registered = derived & set(entry.queries())
    assert entry.BENCH_LIFECYCLE == registered, (
        sorted(entry.BENCH_LIFECYCLE - registered),
        sorted(registered - entry.BENCH_LIFECYCLE),
    )


def test_bench_prebuilt_set_matches_ensure_layout_gates():
    """BENCH_PREBUILT (r9 verdict item 3's pure-serve fixture family) must
    be EXACTLY the gates whose body routes its base build through
    scenario._ensure_layout — regenerated from the query sources so the
    set can't drift — and every such gate must also be in
    BENCH_LIFECYCLE (a prebuilt gate still builds a scratch layout when
    the fixture is off)."""
    import os
    import re

    qdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "codecdb_queryengine_spark",
        "queries",
    )
    derived = set()
    for mod in sorted(f for f in os.listdir(qdir) if f.endswith(".py")):
        src = open(os.path.join(qdir, mod)).read()
        for fname, body in re.findall(
            r"def (\w+)\(spark: SparkSession, sf_dir: str\) -> DataFrame:"
            r"(.*?)(?=\ndef |\Z)",
            src,
            re.S,
        ):
            if "_ensure_layout(" in body:
                derived.add(fname)
    registered = derived & set(entry.queries())
    assert entry.BENCH_PREBUILT == registered, (
        sorted(entry.BENCH_PREBUILT - registered),
        sorted(registered - entry.BENCH_PREBUILT),
    )
    assert entry.BENCH_PREBUILT <= entry.BENCH_LIFECYCLE


def test_curated_name_lists_name_registered_queries():
    """Every name in the plan audit's EXPECT_* sets and in the bench's
    BENCH_SKIP / BENCH_PREBUILT must be a queries() key: a retired or
    renamed entry would otherwise leave a stale name that silently
    exempts or skips nothing."""
    import importlib.util
    from pathlib import Path

    script = Path(__file__).resolve().parent.parent / "scripts" / "explain_audit.py"
    spec = importlib.util.spec_from_file_location("explain_audit", script)
    audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(audit)
    lists = {n: getattr(audit, n) for n in dir(audit) if n.startswith("EXPECT_")}
    assert lists, "explain_audit.py defines no EXPECT_* sets"
    lists["BENCH_SKIP"] = entry.BENCH_SKIP
    lists["BENCH_PREBUILT"] = entry.BENCH_PREBUILT
    registered = set(entry.queries())
    stale = {n: sorted(set(v) - registered) for n, v in lists.items() if set(v) - registered}
    assert not stale, stale
