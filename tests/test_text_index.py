"""Persisted inverted text index (sources/text_index): build, prune, AND."""

import glob
import os
import re

from pyspark.sql import functions as F

from codecdb_queryengine_spark.sources import text_index as TI


def _corpus(spark):
    rows = [
        (0, "alpha beta gamma"),
        (1, "alpha beta"),
        (2, "beta gamma delta"),
        (3, "alpha alpha alpha"),  # duplicate tokens must not double-count
        (4, "epsilon"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_search_all_terms_is_exact_and(spark, tmp_path):
    path = str(tmp_path / "ti")
    TI.text_index_build(_corpus(spark), path, num_buckets=8)
    got = {
        r["doc_id"]
        for r in TI.text_index_search_all(
            spark, path, ["alpha", "beta"], num_buckets=8
        ).collect()
    }
    assert got == {0, 1}
    # single term, duplicated in-doc: present once
    got = {
        r["doc_id"]
        for r in TI.text_index_search_all(spark, path, ["alpha"], num_buckets=8).collect()
    }
    assert got == {0, 1, 3}
    # absent term: empty intersection
    assert (
        TI.text_index_search_all(spark, path, ["alpha", "zeta"], num_buckets=8).count()
        == 0
    )


def test_driver_bucket_mirrors_jvm_expression(spark):
    """_bucket_of (plan-time pruning) must match the build-side JVM md5
    bucket expression for every term, or a query would prune away the
    partition holding its own postings."""
    from codecdb_queryengine_spark.functions import text as T

    terms = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "Ω", ""]
    df = spark.createDataFrame([(t,) for t in terms], "term string").select(
        "term", (T.md5_slice32("ti|", F.col("term")) % 8).alias("b")
    )
    jvm = {r["term"]: r["b"] for r in df.collect()}
    assert jvm == {t: TI._bucket_of(t, 8) for t in terms}


def test_search_reads_only_hashed_buckets(spark, tmp_path):
    path = str(tmp_path / "ti")
    TI.text_index_build(_corpus(spark), path, num_buckets=8)
    df = TI.text_index_search_all(spark, path, ["alpha", "beta"], num_buckets=8)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    want = sorted({TI._bucket_of(t, 8) for t in ["alpha", "beta"]})
    assert "PartitionFilters: [t_bucket" in plan
    assert all(str(b) in plan.split("PartitionFilters")[1][:80] for b in want)
    assert len(glob.glob(path + "/postings/t_bucket=*")) >= len(want)


def test_phrase_search_adjacency_and_repeats(spark, tmp_path):
    path = str(tmp_path / "ti")
    TI.text_index_build_positional(_corpus(spark), path, num_buckets=8)

    def phrase(*terms):
        return {
            r["doc_id"]
            for r in TI.text_index_search_phrase(
                spark, path, list(terms), num_buckets=8
            ).collect()
        }

    # adjacency, not just co-occurrence: docs 0/1 have "alpha beta";
    # doc 2 has beta and gamma adjacent but NOT alpha beta
    assert phrase("alpha", "beta") == {0, 1}
    assert phrase("beta", "gamma") == {0, 2}
    # order matters
    assert phrase("beta", "alpha") == set()
    # repeated-term phrase must anchor on true consecutive positions
    assert phrase("alpha", "alpha") == {3}
    assert phrase("alpha", "alpha", "alpha") == {3}
    assert phrase("alpha", "alpha", "alpha", "alpha") == set()
    # single-term phrase degenerates to membership
    assert phrase("epsilon") == {4}


def test_ranked_search_prefers_rare_terms_and_high_tf(spark, tmp_path):
    path = str(tmp_path / "ti")
    rows = [
        (0, "rare rare common filler filler filler"),
        (1, "rare common filler filler filler filler"),
        (2, "common filler filler filler filler filler"),
        (3, "filler filler filler filler filler filler"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    TI.text_index_build_ranked(docs, path, num_buckets=8)
    out = TI.text_index_search_ranked(
        spark, path, ["rare", "common"], k=4, num_buckets=8
    ).collect()
    ids = [r["doc_id"] for r in out]
    # doc 3 has neither term -> absent entirely (no postings row)
    assert ids == [0, 1, 2]
    scores = [r["score"] for r in out]
    assert scores[0] > scores[1] > scores[2] > 0.0


def test_corpus_search_example_end_to_end(spark, sf_dir, tmp_path):
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "corpus_search",
        os.path.join(
            os.path.dirname(os.path.dirname(__file__)), "examples", "corpus_search.py"
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    and_ids, phrase_ids, ranked, b_read, b_disk = mod.build_and_search(
        spark, sf_dir, str(tmp_path / "ti")
    )
    assert len(and_ids) > 0
    # phrase results are a subset of the AND results for the same 2 terms
    two = {
        r["doc_id"]
        for r in TI.text_index_search_all(
            spark, str(tmp_path / "ti"), ["hash", "join"]
        ).collect()
    }
    assert set(phrase_ids) <= two
    assert len(ranked) == 10
    scores = [r["score"] for r in ranked]
    assert scores == sorted(scores, reverse=True)
    assert 1 <= b_read <= 3 and b_disk >= b_read


def test_search_uses_layout_bucket_count_not_caller_guess(spark, tmp_path):
    """Build with 4 buckets, search with a WRONG caller default (32):
    the layout meta must win, or pruning would silently drop postings."""
    path = str(tmp_path / "ti")
    TI.text_index_build(_corpus(spark), path, num_buckets=4)
    got = {
        r["doc_id"]
        for r in TI.text_index_search_all(
            spark, path, ["alpha", "beta"], num_buckets=32
        ).collect()
    }
    assert got == {0, 1}


def test_per_layout_meta_do_not_clobber(spark, tmp_path):
    """Two layouts built at the SAME path with DIFFERENT bucket counts keep
    their own moduli (r5 ADVICE: a shared <path>/meta let the last build
    clobber the other layout's bucket count, silently wrong-modulus-pruning
    its postings).  The caller's num_buckets guess is deliberately wrong on
    both searches — only the per-layout meta can make these pass."""
    path = str(tmp_path / "ti")
    TI.text_index_build(_corpus(spark), path, num_buckets=4)
    TI.text_index_build_positional(_corpus(spark), path, num_buckets=8)
    got = {
        r["doc_id"]
        for r in TI.text_index_search_all(
            spark, path, ["alpha", "beta"], num_buckets=32
        ).collect()
    }
    assert got == {0, 1}
    got = {
        r["doc_id"]
        for r in TI.text_index_search_phrase(
            spark, path, ["alpha", "beta"], num_buckets=32
        ).collect()
    }
    assert got == {0, 1}


def test_read_buckets_propagates_corrupt_meta(spark, tmp_path):
    """A meta table that EXISTS but cannot be read must raise, not silently
    fall back to the caller's modulus (r5 ADVICE: the silent fallback
    reintroduced the wrong-modulus prune on any transient read error)."""
    import pathlib

    import pytest

    path = str(tmp_path / "ti")
    TI.text_index_build(_corpus(spark), path, num_buckets=8)
    meta = pathlib.Path(path) / "meta_postings"
    for f in meta.glob("*.parquet"):
        f.write_bytes(b"this is not a parquet file")
    with pytest.raises(Exception):
        TI._read_buckets(spark, path, 8, layout="postings")


# --- mutation lifecycle: upsert / delete / purge ------------------------------


def _mutated_corpus(spark):
    """The corpus after the two-generation mutation the tests apply:
    gen 1 updates doc 1 and deletes doc 4; gen 2 deletes doc 1 (superseding
    its gen-1 update), updates doc 2, and re-adds doc 4."""
    rows = [
        (0, "alpha beta gamma"),
        (2, "epsilon zeta"),
        (3, "alpha alpha alpha"),
        (4, "alpha beta reborn"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _apply_mutations(spark, path):
    gen = TI.text_index_upsert(
        path,
        updates=spark.createDataFrame(
            [(1, "alpha beta updated")], "doc_id long, text string"
        ),
        delete_ids=spark.createDataFrame([(4,)], "doc_id long"),
    )
    assert gen == 1
    gen = TI.text_index_upsert(
        path,
        updates=spark.createDataFrame(
            [(2, "epsilon zeta"), (4, "alpha beta reborn")],
            "doc_id long, text string",
        ),
        delete_ids=spark.createDataFrame([(1,)], "doc_id long"),
    )
    assert gen == 2


def _search_ids(spark, path, terms):
    return {
        r["doc_id"]
        for r in TI.text_index_search_all(spark, path, terms, num_buckets=8).collect()
    }


def test_upsert_boolean_search_equals_rebuild(spark, tmp_path):
    path = str(tmp_path / "ti")
    TI.text_index_build(_corpus(spark), path, num_buckets=8)
    _apply_mutations(spark, path)
    fresh = str(tmp_path / "ti_fresh")
    TI.text_index_build(_mutated_corpus(spark), fresh, num_buckets=8)
    for terms in (["alpha", "beta"], ["alpha"], ["epsilon"], ["updated"], ["reborn"]):
        assert _search_ids(spark, path, terms) == _search_ids(spark, fresh, terms)


def test_upsert_phrase_and_ranked_equal_rebuild(spark, tmp_path):
    path = str(tmp_path / "ti")
    TI.text_index_build_positional(_corpus(spark), path, num_buckets=8)
    TI.text_index_build_ranked(_corpus(spark), path, num_buckets=8)
    _apply_mutations(spark, path)
    fresh = str(tmp_path / "ti_fresh")
    TI.text_index_build_positional(_mutated_corpus(spark), fresh, num_buckets=8)
    TI.text_index_build_ranked(_mutated_corpus(spark), fresh, num_buckets=8)
    for phrase in (["alpha", "beta"], ["beta", "updated"], ["beta", "reborn"]):
        got = {
            r["doc_id"]
            for r in TI.text_index_search_phrase(
                spark, path, phrase, num_buckets=8
            ).collect()
        }
        want = {
            r["doc_id"]
            for r in TI.text_index_search_phrase(
                spark, fresh, phrase, num_buckets=8
            ).collect()
        }
        assert got == want, phrase
    got = TI.text_index_search_ranked(spark, path, ["alpha", "beta"], k=10).collect()
    want = TI.text_index_search_ranked(spark, fresh, ["alpha", "beta"], k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_every_layout_write_shuffles_once(spark, tmp_path, monkeypatch):
    """Each postings layout write — a build of all three layouts and an
    upsert delta — plans exactly ONE shuffle exchange.  The ranked layout
    would otherwise pay two, the tf groupBy's (doc_id, term, t_bucket)
    shuffle and the write's t_bucket repartition: _tf_rows partitions the
    token rows the way the write does, and the write keeps that
    partitioning.  The upsert here writes single-task deltas, where the
    planner would not drop a second SinglePartition exchange."""
    writes = []
    real = TI._write_partitioned

    def spy(rows, out):
        writes.append((out, rows))
        real(rows, out)

    monkeypatch.setattr(TI, "_write_partitioned", spy)
    path = str(tmp_path / "ti")
    TI.text_index_build_all(_corpus(spark), path, num_buckets=8)
    _apply_mutations(spark, path)
    written = {os.path.relpath(out, path).split(os.sep)[0] for out, _ in writes}
    assert written == {
        "postings", "postings_pos", "postings_tf",
        "postings_delta", "postings_pos_delta", "postings_tf_delta",
    }
    for out, df in writes:
        plan = df._jdf.queryExecution().executedPlan().toString()
        # shuffles only: BroadcastExchange / ReusedExchange do not count
        assert len(re.findall(r"(?<![A-Za-z])Exchange ", plan)) == 1, (out, plan)


def test_purge_folds_overlay_and_is_idempotent(spark, tmp_path):
    import os

    path = str(tmp_path / "ti")
    TI.text_index_build(_corpus(spark), path, num_buckets=8)
    TI.text_index_build_ranked(_corpus(spark), path, num_buckets=8)
    _apply_mutations(spark, path)
    before = _search_ids(spark, path, ["alpha", "beta"])
    ranked_before = TI.text_index_search_ranked(spark, path, ["alpha"], k=10).collect()
    folded = TI.text_index_purge(spark, path)
    assert sorted(folded) == ["postings", "postings_tf"]
    assert not os.path.exists(TI._docgen_path(path))
    assert not os.path.exists(TI._delta_root(path, "postings"))
    assert not os.path.exists(TI._delta_root(path, "doclens"))
    assert _search_ids(spark, path, ["alpha", "beta"]) == before
    ranked_after = TI.text_index_search_ranked(spark, path, ["alpha"], k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in ranked_after] == [
        (r["doc_id"], r["score"]) for r in ranked_before
    ]
    assert TI.text_index_purge(spark, path) == []  # no-op on unmutated


def test_gate_purge_boolean_parity_on_sf_corpus(spark, sf_dir, tmp_path):
    """The pre/post-purge BOOLEAN parity assert moved out of the
    docs_search_purged gate (r10 verdict item 7: it re-executed the
    boolean serving plan twice inside the timed lifecycle purely for an
    assert).  This replays the gate's exact sequence — build_all both
    layouts over the sf corpus, the gate's own two mutation generations,
    purge — and pins that the folded base serves the same boolean
    relation as the overlay did."""
    from codecdb_queryengine_spark.catalog import load_tables
    from codecdb_queryengine_spark.queries import search

    docs = load_tables(spark, sf_dir)["documents"]
    path = str(tmp_path / "ti_gate_purge")
    TI.text_index_build_all(docs, path, layouts=("postings", "postings_tf"))
    search._text_index_mutate(spark, sf_dir, path)
    pre = {
        r["doc_id"]
        for r in TI.text_index_search_all(spark, path, search._SEARCH_TERMS).collect()
    }
    assert TI.text_index_purge(spark, path)
    post = {
        r["doc_id"]
        for r in TI.text_index_search_all(spark, path, search._SEARCH_TERMS).collect()
    }
    assert post == pre
    assert pre, "parity check is vacuous: the gate terms match no docs"


def test_upsert_retry_after_crash_is_exactly_once(spark, tmp_path, monkeypatch):
    """Crash AFTER the delta write, BEFORE the docgen commit: the orphan
    delta generation is invisible, and the retry's directory overwrite
    replaces it — replay cannot double-post."""
    path = str(tmp_path / "ti")
    TI.text_index_build(_corpus(spark), path, num_buckets=8)
    # the commit point is _promote_docgen since r12 (the staging write
    # overlaps the delta writes; promotion is still strictly last)
    real_commit = TI._promote_docgen
    boom = {"armed": True}

    def crashing(spark_, path_, staging):
        if boom["armed"]:
            boom["armed"] = False
            raise RuntimeError("injected crash before docgen commit")
        real_commit(spark_, path_, staging)

    monkeypatch.setattr(TI, "_promote_docgen", crashing)
    upd = spark.createDataFrame([(1, "alpha omega")], "doc_id long, text string")
    try:
        TI.text_index_upsert(path, updates=upd)
        raise AssertionError("injected crash did not fire")
    except RuntimeError:
        pass
    # crashed upsert is invisible
    assert _search_ids(spark, path, ["omega"]) == set()
    assert _search_ids(spark, path, ["alpha", "beta"]) == {0, 1}
    TI.text_index_upsert(path, updates=upd)  # retry commits
    assert _search_ids(spark, path, ["omega"]) == {1}
    assert _search_ids(spark, path, ["alpha"]) == {0, 1, 3}
    assert _search_ids(spark, path, ["alpha", "beta"]) == {0}


def test_upsert_guards(spark, tmp_path):
    import pytest

    path = str(tmp_path / "ti")
    TI.text_index_build(_corpus(spark), path, num_buckets=8)
    one = spark.createDataFrame([(1, "x y")], "doc_id long, text string")
    with pytest.raises(ValueError, match="nothing to do"):
        TI.text_index_upsert(path)
    with pytest.raises(ValueError, match="both updates and delete_ids"):
        TI.text_index_upsert(
            path, updates=one, delete_ids=spark.createDataFrame([(1,)], "doc_id long")
        )
    with pytest.raises(ValueError, match="duplicate doc_id"):
        TI.text_index_upsert(path, updates=one.unionByName(one))
    with pytest.raises(ValueError, match="NULL doc_id"):
        TI.text_index_upsert(
            path,
            delete_ids=spark.createDataFrame(
                [(None,)], "doc_id long"
            ),
        )
    with pytest.raises(ValueError, match="no index layouts"):
        TI.text_index_upsert(str(tmp_path / "nowhere"), updates=one)


def test_purge_crash_orderings_leave_serving_correct(spark, tmp_path, monkeypatch):
    """The purge's crash-safety argument (module section comment), pinned:
    (a) crash AFTER the base swaps, BEFORE docgen removal — the overlay of
    a folded base re-derives the same rows, serving unchanged; (b) crash
    after docgen removal, BEFORE delta cleanup — serving is base-only and
    complete, and a SUBSEQUENT upsert re-numbering from gen=1 overwrites
    the stale generation directory before any docgen row can reference
    it.  Re-running the purge completes in both cases."""
    import os
    import shutil

    path = str(tmp_path / "ti")
    TI.text_index_build(_corpus(spark), path, num_buckets=8)
    _apply_mutations(spark, path)
    want = _search_ids(spark, path, ["alpha", "beta"])

    # (a) kill between the base swaps and the docgen removal
    real_rmtree = shutil.rmtree
    def boom(p, *a, **kw):
        if p == TI._docgen_path(path):
            raise RuntimeError("injected crash before docgen removal")
        return real_rmtree(p, *a, **kw)

    monkeypatch.setattr(TI.shutil if hasattr(TI, "shutil") else shutil, "rmtree", boom)
    try:
        TI.text_index_purge(spark, path)
        raise AssertionError("injected crash did not fire")
    except RuntimeError:
        pass
    monkeypatch.undo()
    assert os.path.exists(TI._docgen_path(path))  # crashed mid-way
    assert _search_ids(spark, path, ["alpha", "beta"]) == want  # still correct
    assert TI.text_index_purge(spark, path) != []  # re-run completes
    assert not os.path.exists(TI._docgen_path(path))
    assert _search_ids(spark, path, ["alpha", "beta"]) == want

    # (b) stale delta generation surviving docgen removal: simulate by
    # planting an orphan gen=1 delta dir, then upserting — the new gen=1
    # write must overwrite it, not merge with it
    orphan = os.path.join(TI._delta_root(path, "postings"), "gen=1")
    os.makedirs(os.path.dirname(orphan), exist_ok=True)
    postings = TI.postings_of(
        spark.createDataFrame([(0, "zombie")], "doc_id long, text string"),
        num_buckets=8,
    )
    postings.write.mode("overwrite").partitionBy("t_bucket").parquet(orphan)
    TI.text_index_upsert(
        path,
        updates=spark.createDataFrame([(3, "fresh rows")], "doc_id long, text string"),
    )
    assert _search_ids(spark, path, ["zombie"]) == set()  # orphan overwritten
    assert _search_ids(spark, path, ["fresh"]) == {3}


def test_streamed_base_layout_supports_mutations_and_purge(spark, tmp_path):
    """The streamed-ingest base layout (file-sink commit log under
    postings/_spark_metadata) must compose with the mutation overlay and
    the purge fold: upsert never touches the base (the commit-log read
    stays valid), and the purge's whole-layout swap replaces the sink
    layout with a plain batch table."""
    import os

    from codecdb_queryengine_spark.streaming import sinks as SK

    src = str(tmp_path / "src")
    _corpus(spark).write.parquet(src)
    base = str(tmp_path / "ti")
    stream = (
        spark.readStream.schema("doc_id long, text string").parquet(src)
    )
    q = SK.stream_to_parquet(
        TI.postings_of(stream, num_buckets=8),
        os.path.join(base, "postings"),
        str(tmp_path / "ckpt"),
        partition_by=("t_bucket",),
    )
    q.awaitTermination()
    TI._write_meta(spark, base, 8)
    assert os.path.exists(os.path.join(base, "postings", "_spark_metadata"))
    assert _search_ids(spark, base, ["alpha", "beta"]) == {0, 1}

    _apply_mutations(spark, base)
    fresh = str(tmp_path / "ti_fresh")
    TI.text_index_build(_mutated_corpus(spark), fresh, num_buckets=8)
    for terms in (["alpha", "beta"], ["updated"], ["reborn"]):
        assert _search_ids(spark, base, terms) == _search_ids(spark, fresh, terms)
    TI.text_index_purge(spark, base)
    assert not os.path.exists(os.path.join(base, "postings", "_spark_metadata"))
    for terms in (["alpha", "beta"], ["updated"], ["reborn"]):
        assert _search_ids(spark, base, terms) == _search_ids(spark, fresh, terms)


def test_cached_serving_invalidates_on_mutation_and_rebuild(spark, tmp_path):
    """cached=True memoizes the resolved overlay plan and the layout's
    bucket count; every in-module write path (build, upsert, purge) must
    invalidate, and an out-of-band mutation is the caller's problem via
    invalidate_layout — pinned by serving stale-on-purpose first."""
    path = str(tmp_path / "ti")
    TI.text_index_build(_corpus(spark), path, num_buckets=8)

    def cached_ids(terms):
        return {
            r["doc_id"]
            for r in TI.text_index_search_all(
                spark, path, terms, num_buckets=8, cached=True
            ).collect()
        }

    assert cached_ids(["alpha", "beta"]) == {0, 1}  # populates the cache
    _apply_mutations(spark, path)  # upserts invalidate
    assert cached_ids(["alpha", "beta"]) == {0, 4}
    assert cached_ids(["updated"]) == set()  # doc 1 deleted at gen 2
    TI.text_index_purge(spark, path)  # purge invalidates
    assert cached_ids(["alpha", "beta"]) == {0, 4}
    # rebuild over different content invalidates too
    TI.text_index_build(
        spark.createDataFrame([(9, "alpha beta")], "doc_id long, text string"),
        path,
        num_buckets=8,
    )
    assert cached_ids(["alpha", "beta"]) == {9}
    # out-of-band mutation: cache is stale BY CONTRACT until invalidated
    import shutil

    shutil.rmtree(path)
    TI.text_index_build(
        spark.createDataFrame([(5, "alpha beta")], "doc_id long, text string"),
        str(tmp_path / "elsewhere"),
        num_buckets=8,
    )
    TI.invalidate_layout(path)  # explicit hook for out-of-band writers


def _python_rows(rows, num_buckets):
    """Every layout's rows computed in Python from (doc_id, text): tokens
    mirror split(trim(text), '\\s+') — trim strips spaces only, and Java's
    \\s is the ASCII whitespace set — and the bucket mirrors md5_slice32."""
    import hashlib
    import re

    def bucket(t):
        return int(hashlib.md5(f"ti|{t}".encode()).hexdigest()[:8], 16) % num_buckets

    out = {layout: set() for layout in TI._LAYOUT_SCHEMAS}
    for doc, text in rows:
        if text is None:
            continue
        toks = re.split(r"\s+", text.strip(" "), flags=re.ASCII)
        out["doclens"].add((doc, len(toks)))
        for pos, t in enumerate(toks):
            out["postings_pos"].add((doc, pos, t, bucket(t)))
        for t in set(toks):
            out["postings"].add((doc, t, bucket(t)))
            out["postings_tf"].add((doc, t, toks.count(t), bucket(t)))
    return out


def test_both_build_forms_write_the_python_tokenizer_rows(spark, tmp_path):
    """The one-pass build and the three single-layout builds each write
    exactly the rows a Python mirror of the tokenizer derives, NULL text,
    empty text and runs of whitespace included."""
    import pytest

    rows = [
        (0, "alpha beta gamma"),
        (1, "  alpha   beta  "),  # runs of spaces, trimmed ends
        (2, "beta\tgamma\t"),  # trim keeps tabs: a trailing empty token
        (3, "alpha alpha alpha"),
        (4, None),
        (5, ""),  # one empty token
        (6, "   "),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = _python_rows(rows, 8)
    # a NULL text has no tokens: its doclens row holds 0, so BM25's
    # sum_dl counts nothing for it
    want["doclens"].add((4, 0))
    one = str(tmp_path / "one")
    sep = str(tmp_path / "sep")
    TI.text_index_build_all(docs, one, num_buckets=8)
    TI.text_index_build(docs, sep, num_buckets=8)
    TI.text_index_build_positional(docs, sep, num_buckets=8)
    TI.text_index_build_ranked(docs, sep, num_buckets=8)
    for path in (one, sep):
        for layout, expected in want.items():
            cols = [f.name for f in TI._LAYOUT_SCHEMAS[layout].fields]
            got = spark.read.parquet(f"{path}/{layout}").select(*cols).collect()
            assert len(got) == len(expected), (path, layout)
            assert set(map(tuple, got)) == expected, (path, layout)
    with pytest.raises(ValueError, match="unknown layouts"):
        TI.text_index_build_all(docs, one, layouts=("nope",))


def test_batch_ranked_search_matches_single_query_per_query(spark, tmp_path):
    """text_index_search_ranked_batch (r8 verdict item 3): each query's
    (doc_id, score, rank) slice must be bit-identical to running the
    single-query ranked search with that query's own term set — the
    union-pruned one-pass batch plan may not perturb per-query BM25
    scores or tie-breaks — and every window in the plan is partitioned."""
    path = str(tmp_path / "ti_batch")
    TI.text_index_build_ranked(_corpus(spark), path, num_buckets=8)
    batch = [(0, ["alpha", "beta"]), (1, ["gamma"]), (2, ["beta", "delta"])]
    out = TI.text_index_search_ranked_batch(spark, path, batch, k=10)
    got: dict[int, list] = {}
    for r in out.collect():
        got.setdefault(r["q_id"], []).append((r["rk"], r["doc_id"], r["score"]))
    for q_id, terms in batch:
        single = TI.text_index_search_ranked(spark, path, terms, k=10).collect()
        want = [(i + 1, r["doc_id"], r["score"]) for i, r in enumerate(single)]
        assert sorted(got[q_id]) == want, (q_id, terms)
    # the batch plan never funnels through a partition-less window (the
    # audit's tree check; the 1-row corpus-stats aggregate legitimately
    # keeps an Exchange SinglePartition of 1-row partials)
    import importlib.util
    import os as _os

    spec = importlib.util.spec_from_file_location(
        "explain_audit",
        _os.path.join(_os.path.dirname(__file__), "..", "scripts", "explain_audit.py"),
    )
    audit_mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(audit_mod)
    assert audit_mod.global_windows(out._jdf.queryExecution().executedPlan()) == []


def test_ranked_batch_empty_input_raises_value_error(spark, sf_dir):
    """r9 ADVICE item 3: empty batch / termless query must raise a real
    ValueError (an assert is stripped under python -O, and the failure
    otherwise surfaces later as an opaque unresolved-column error on the
    first pivoted term column)."""
    import pytest

    with pytest.raises(ValueError, match="empty batch"):
        TI.text_index_search_ranked_batch(spark, "/nonexistent", [])
    with pytest.raises(ValueError, match="empty batch"):
        TI.text_index_search_ranked_batch(spark, "/nonexistent", [(1, [])])
    with pytest.raises(ValueError, match="empty"):
        TI.text_index_search_phrase(spark, "/nonexistent", [])
    with pytest.raises(ValueError, match="empty"):
        TI.text_index_search_ranked(spark, "/nonexistent", [])


def test_ranked_search_with_a_null_text_matches_the_oracle(spark, tmp_path):
    """BM25 over a corpus holding a NULL text: the document counts in
    n_docs and adds nothing to sum_dl on both sides, so every score equals
    the DuckDB oracle's bit for bit."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from codecdb_queryengine_spark.oracle import compare
    from codecdb_queryengine_spark.oracle.search import _search_ranked_sql
    from codecdb_queryengine_spark.queries.search import _SEARCH_TERMS

    texts = [
        "hash scan merge", "hash hash join", None, "scan the table", "merge sort merge",
        "a b c d e f hash", None, "scan", "",
    ]
    src = tmp_path / "corpus"
    src.mkdir()
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
        }),
        str(src / "documents.parquet"),
    )
    docs = spark.read.parquet(str(src / "documents.parquet"))
    path = str(tmp_path / "ti_null")
    TI.text_index_build_ranked(docs, path, num_buckets=8)
    got = TI.text_index_search_ranked(spark, path, _SEARCH_TERMS, k=10)
    ok, detail = compare(got, _search_ranked_sql(), str(src), ndigits=None)
    assert ok, detail
