"""Materialized term-posting index (odinson_spark/index.py): the Spark
analogue of querying the reference's prebuilt Lucene index
(lucene/index/OdinsonIndexWriter.scala:113-205; postings-driven skipping in
lucene/search/*).

Invariants under test:
* index-path results are IDENTICAL to scan-path results for every pattern
  class (term, concat, or, negation, regex, fuzzy, traversal, event),
  including the unconstrained classes that must fall back to the full scan;
* the postings lookup is actually pruned: static partition filter on
  tbucket + pushed data filters on (field, term);
* candidate generation is sound: PFAnd/PFOr compose as intersection/union,
  unconstrained arms degrade to None (never an empty result).
"""

import os
import re
import tempfile

import pytest
from pyspark.sql import functions as F

from odinson_spark.errors import OdinsonException
from odinson_spark.index import DEFAULT_INDEXED_COLUMNS, TermIndex
from odinson_spark.pipeline.extract import tokenize_documents
from odinson_spark.plans import prefilter as pf
from odinson_spark.search import SearchEngine


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    rows = []
    for i in range(40):
        extra = " fast" * (i % 3) + (" quick sort" if i % 5 == 0 else "")
        rows.append((i, f"alpha beta{extra} gamma fast key end", "en"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    # through parquet so the scan path exercises real pushdown
    p = str(tmp_path_factory.mktemp("idxcorpus") / "docs.parquet")
    docs.write.parquet(p)
    return spark.read.parquet(p)


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx") / "index")
    return TermIndex.build(tokenize_documents(corpus), out)


@pytest.fixture(scope="module")
def scan_engine(corpus):
    return SearchEngine(tokenize_documents(corpus))


PATTERNS = [
    "fast",                      # single term — fully index-driven
    "quick sort",                # conjunction of terms (concat)
    "alpha | quick",             # union
    "key [!norm=key]",           # negation arm is unconstrained, term arm not
    "[norm=/qu.*/]",             # regex — term-dictionary rewrite
    "fast~",                     # fuzzy — term-dictionary rewrite
    "(?<c> [norm=fast]) >next []",  # traversal with edge prefilter
    "[] [norm=gamma]? fast",     # optional
    "alpha beta",                # adjacent phrase — positional pruning
    "alpha [] gamma",            # gapped phrase (fixed-width wildcard)
    "quick sort gamma",          # 3-anchor phrase
    "[norm=/be.*/] gamma",       # multi-term (regex) anchor inside a phrase
]


@pytest.mark.parametrize("pattern", PATTERNS)
def test_index_path_equals_scan_path(index, scan_engine, pattern):
    a = sorted(
        map(tuple, index.engine().mentions(pattern).select("doc_id", "sent_id", "start", "end").collect())
    )
    b = sorted(
        map(tuple, scan_engine.mentions(pattern).select("doc_id", "sent_id", "start", "end").collect())
    )
    assert a == b and (len(a) > 0 or pattern == "quick sort")


def test_pagination_on_index_path(index, scan_engine):
    eng = index.engine()
    full = sorted(
        (r.doc_id, r.sent_id, r.start, r.end) for r in scan_engine.mentions("fast").collect()
    )
    seen, cursor = [], None
    while True:
        page = eng.search("fast", n=9, after=cursor)
        seen.extend((r.doc_id, r.sent_id, r.start, r.end) for r in page.rows)
        if page.next_cursor is None:
            break
        cursor = page.next_cursor
    assert seen == full


def test_postings_lookup_is_pruned(index):
    keys = index._lookup(["norm"], ["fast"], positions=False)
    plan = keys._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(tbucket" in plan or "tbucket" in plan.split("PartitionFilters")[1].split("]")[0]
    assert "term" in plan.split("PushedFilters")[1].split("]")[0]


def test_candidates_sound_and_unbounded_cases(index):
    # a term that exists
    keys = index.candidate_keys(pf.PFTerm("norm", "fast"))
    n_fast = keys.count()
    assert n_fast > 0
    # AND with unconstrained arm = just the constrained arm
    both = index.candidate_keys(pf.pf_and([pf.PFTerm("norm", "fast"), pf.PFTrue()]))
    assert both.count() == n_fast
    # OR with unconstrained arm cannot bound
    assert index.candidate_keys(pf.pf_or([pf.PFTerm("norm", "fast"), pf.PFTrue()])) is None
    # unknown field cannot bound
    assert index.candidate_keys(pf.PFTerm("nosuchfield", "x")) is None
    # PFFalse = empty
    assert index.candidate_keys(pf.PFFalse()).count() == 0
    # intersection really intersects: fast AND quick < fast
    inter = index.candidate_keys(
        pf.pf_and([pf.PFTerm("norm", "fast"), pf.PFTerm("norm", "quick")])
    )
    assert 0 < inter.count() < n_fast


def test_round_trip_read(spark, index):
    idx2 = TermIndex.read(spark, index.path)
    assert idx2.indexed_columns == index.indexed_columns
    a = index.candidate_keys(pf.PFTerm("norm", "fast")).count()
    assert idx2.candidate_keys(pf.PFTerm("norm", "fast")).count() == a


def test_meta_file_written(index):
    assert os.path.exists(os.path.join(index.path, "odinson_index_meta.json"))
    assert set(index.indexed_columns) <= set(DEFAULT_INDEXED_COLUMNS)


class TestIncremental:
    """add/delete/update/compact — the reference's live-index operations
    (lucene/index/IncrementalOdinsonIndex.scala:104-124): adds append into
    existing bucket directories, deletes tombstone, compact purges."""

    @pytest.fixture()
    def inc(self, spark, corpus, tmp_path):
        out = str(tmp_path / "inc_index")
        return TermIndex.build(tokenize_documents(corpus), out)

    def _hits(self, idx, pattern="fast"):
        return sorted(
            (r.doc_id, r.sent_id, r.start, r.end)
            for r in idx.engine().mentions(pattern).collect()
        )

    def test_add_documents_visible_and_pruned(self, spark, inc):
        before = self._hits(inc)
        new = spark.createDataFrame(
            [(1000, "zeppelin fast zeppelin", "en")],
            "doc_id long, text string, lang string",
        )
        inc.add_documents(tokenize_documents(new))
        after = self._hits(inc)
        assert len(after) == len(before) + 1
        assert any(str(d) == "1000" for d, *_ in after)
        # the new term is index-reachable (not scan-fallback): candidate
        # lookup finds it through the postings
        from odinson_spark.plans import prefilter as pf

        keys = inc.candidate_keys(pf.PFTerm("norm", "zeppelin"))
        assert keys is not None and keys.count() == 1

    def test_delete_is_tombstone_until_compact(self, spark, inc):
        before = self._hits(inc)
        victims = sorted({d for d, *_ in before})[:2]
        inc.delete_documents(victims)
        after = self._hits(inc)
        assert {d for d, *_ in after}.isdisjoint(victims)
        assert len(after) < len(before)
        # physical files untouched before compact
        raw = inc.sentences.count()
        live = inc.live_sentences().count()
        assert raw - live == len(victims)
        inc.compact()
        assert inc.sentences.count() == live
        assert inc._tombstones() is None
        assert self._hits(inc) == after

    def test_compact_keeps_layout(self, spark, corpus, tmp_path, monkeypatch):
        """compact() rebuilds with the bucket counts recorded in meta, not
        re-derived ones: a crash between its table swaps must never mix
        tables of different layouts."""
        import odinson_spark.index as index_mod

        # an index built under a rule that chose 4 buckets, compacted after
        # the rule would choose the default again
        monkeypatch.setattr(index_mod, "_n_buckets", lambda n_rows: 4)
        idx = TermIndex.build(tokenize_documents(corpus), str(tmp_path / "layout_index"))
        monkeypatch.undo()

        def layout():
            dirs = {
                sub: sorted(os.listdir(os.path.join(idx.path, sub)))
                for sub in ("sentences", "postings", "stats")
            }
            meta = TermIndex.read(spark, idx.path).meta
            return meta["n_term_buckets"], meta["n_doc_buckets"], dirs

        before = layout()
        assert before[:2] == (4, 4)
        idx.delete_documents([5])
        idx.compact()
        assert layout() == before

    @pytest.mark.parametrize("crash", ["after_sentences_swap", "before_tombstone_purge"])
    def test_compact_crash_keeps_live_docs(self, spark, inc, monkeypatch, crash):
        """compact() interrupted after it swapped the sentence table, or
        before it removed the tombstones: on reopen, updated and re-added
        docs stay visible, deleted docs stay hidden, and a later delete
        still hides the rebuilt rows."""
        import shutil

        def docs(*rows):
            return tokenize_documents(
                spark.createDataFrame(
                    [(d, t, "en") for d, t in rows],
                    "doc_id long, text string, lang string",
                )
            )

        inc.delete_documents([1])
        inc.update_documents(docs((2, "updated fast body")))
        inc.delete_documents([3])
        inc.add_documents(docs((3, "readded fast body")))
        expected = self._hits(inc)
        visible = {str(d) for d, *_ in expected}
        assert "1" not in visible and {"2", "3"} <= visible

        real_move, real_rmtree = shutil.move, shutil.rmtree

        def move(src, dst, *a, **kw):
            if crash == "after_sentences_swap" and src == os.path.join(inc.path, "postings"):
                raise OSError("injected crash")
            return real_move(src, dst, *a, **kw)

        def rmtree(path, *a, **kw):
            if crash == "before_tombstone_purge" and path == os.path.join(inc.path, "tombstones"):
                raise OSError("injected crash")
            return real_rmtree(path, *a, **kw)

        monkeypatch.setattr(shutil, "move", move)
        monkeypatch.setattr(shutil, "rmtree", rmtree)
        with pytest.raises(OSError, match="injected crash"):
            inc.compact()
        monkeypatch.undo()

        reopened = TermIndex.read(spark, inc.path)
        assert self._hits(reopened) == expected
        reopened.delete_documents([2])
        assert "2" not in {str(d) for d, *_ in self._hits(reopened)}
        after_delete = self._hits(reopened)
        reopened.compact()
        assert reopened._tombstones() is None
        assert self._hits(reopened) == after_delete
        # the crashed compact's work directory is gone too
        parent = os.path.dirname(inc.path)
        assert os.listdir(parent) == [os.path.basename(inc.path)]

    def test_update_replaces(self, spark, inc):
        new = spark.createDataFrame(
            [(0, "replaced fast body", "en")],
            "doc_id long, text string, lang string",
        )
        inc.update_documents(tokenize_documents(new))
        hits = [t for t in self._hits(inc) if str(t[0]) == "0"]
        assert len(hits) == 1  # exactly the new version's single 'fast'
        # old tokens of doc 0 are gone
        assert all(str(t[0]) != "0" for t in self._hits(inc, "alpha"))


class TestMultiTermRewrite:
    """Regex/fuzzy leaves rewritten against the term dictionary — Lucene's
    MultiTermQuery rewrite (RegexpQuery/FuzzyQuery intersect an automaton
    with the terms enum; here an Arrow-batched Python predicate over the
    stats table, so index-path semantics are bit-identical to the matcher's
    own vocab predicate in match/context.py _vocab_pred)."""

    def test_regex_expansion_bounds_candidates(self, index):
        node = pf.PFMultiTerm("norm", "regex", "qu.*")
        keys = index.candidate_keys(node)
        assert keys is not None
        # 'quick' is the only qu.* vocab entry; docs with i%5==0 carry it
        assert keys.count() == 8
        assert index.estimated_candidates(node) == 8

    def test_fuzzy_expansion_bounds_candidates(self, index):
        # edit distance 1 from 'fast' — every doc contains 'fast'
        node = pf.PFMultiTerm("norm", "fuzzy", "fastt")
        keys = index.candidate_keys(node)
        assert keys is not None and keys.count() == 40

    def test_expansion_cap_falls_back_to_scan(self, spark, index, monkeypatch):
        import odinson_spark.index as index_mod

        monkeypatch.setattr(index_mod, "MAX_EXPANSIONS", 2)
        # a fresh reader: expansions are memoized per reader
        capped = TermIndex.read(spark, index.path)
        node = pf.PFMultiTerm("norm", "regex", ".*")
        assert capped.candidate_keys(node) is None
        assert capped.estimated_candidates(node) is None

    def test_empty_expansion_is_empty_not_scan(self, index):
        node = pf.PFMultiTerm("norm", "regex", "zzznothing.*")
        keys = index.candidate_keys(node)
        assert keys is not None and keys.count() == 0

    def test_regex_query_takes_candidate_join_route(self, index, scan_engine):
        eng = index.engine(max_candidate_frac=0.5)
        df = eng.mentions("[norm=/qu.*/]")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LeftSemi" in plan  # pruned by the expansion, not scanned
        a = sorted(map(tuple, df.select("doc_id", "sent_id", "start", "end").collect()))
        b = sorted(
            map(
                tuple,
                scan_engine.mentions("[norm=/qu.*/]")
                .select("doc_id", "sent_id", "start", "end")
                .collect(),
            )
        )
        assert a == b and len(a) > 0

    def test_mask_pf_emits_multi_term_nodes(self):
        from odinson_spark.lang.rules import RuleReader

        def tree_of(pattern):
            exts, _ = RuleReader().compile_rules(
                f"rules:\n  - name: q\n    type: basic\n    pattern: |\n      {pattern}\n"
            )
            return pf.prefilter_of(exts[0].program)

        t = tree_of("[norm=/qu.*/]")
        assert t == pf.PFMultiTerm("norm", "regex", "qu.*")
        t = tree_of("fast~")
        assert t == pf.PFMultiTerm("norm", "fuzzy", "fast")

    def test_literal_prefix(self):
        from odinson_spark.index import _literal_prefix

        assert _literal_prefix("qu.*") == "qu"
        assert _literal_prefix("quick") == "quick"
        assert _literal_prefix("q+x") == ""
        assert _literal_prefix(".*x") == ""
        assert _literal_prefix("ab?c") == "a"
        assert _literal_prefix("ab\\d") == "ab"
        assert _literal_prefix("ab{2}") == "a"
        # a top-level alternation voids the prefix ('cd' fullmatches
        # 'ab|cd' without starting with 'ab') — conservative everywhere
        assert _literal_prefix("ab|cd") == ""
        assert _literal_prefix("ab(c|d)") == ""
        # ...but a literal pipe (escaped / inside a class) keeps it
        assert _literal_prefix("ab\\|c") == "ab"
        assert _literal_prefix("ab[c|d]") == "ab"

    def test_regex_alternation_expansion_is_sound(self, index, scan_engine):
        # 'qu.*|sort' must match BOTH quick and sort through the index path
        pat = "[norm=/qu.*|sort/]"
        eng = index.engine(max_candidate_frac=1.0)
        a = sorted(
            map(tuple, eng.mentions(pat).select("doc_id", "sent_id", "start", "end").collect())
        )
        b = sorted(
            map(
                tuple,
                scan_engine.mentions(pat).select("doc_id", "sent_id", "start", "end").collect(),
            )
        )
        assert a == b and len(a) > 0
        node = pf.PFMultiTerm("norm", "regex", "qu.*|sort")
        # both quick (8 docs) and sort (8 docs) postings reachable
        assert index.estimated_candidates(node) == 16


class TestPhrasePruning:
    """Positional postings — Lucene SpanNearQuery(slop=0, inOrder) parity
    (the reference compiles concatenations to span-near queries,
    compiler/QueryCompiler.scala): the index intersects per-anchor position
    lists, pruning sentences that contain the terms but not adjacently."""

    def _tree(self, pattern):
        from odinson_spark.lang.rules import RuleReader

        exts, _ = RuleReader().compile_rules(
            f"rules:\n  - name: q\n    type: basic\n    pattern: |\n      {pattern}\n"
        )
        return pf.prefilter_of(exts[0].program)

    def _phrases(self, tree):
        nodes = [tree] + (list(tree.subs) if hasattr(tree, "subs") else [])
        return [n for n in nodes if isinstance(n, pf.PFPhrase)]

    def test_phrase_nodes_emitted(self):
        ph = self._phrases(self._tree("fast table"))
        assert ph == [pf.PFPhrase(((0, "norm", "fast"), (1, "norm", "table")))]
        ph = self._phrases(self._tree("fast [] table"))
        assert ph == [pf.PFPhrase(((0, "norm", "fast"), (2, "norm", "table")))]
        # variable-width gap splits the run; single-anchor sides emit nothing
        assert self._phrases(self._tree("fast []* table")) == []
        # exact quantifier keeps a fixed width
        ph = self._phrases(self._tree("fast []{2} table"))
        assert ph == [pf.PFPhrase(((0, "norm", "fast"), (3, "norm", "table")))]

    def test_phrase_candidates_tighter_than_and(self, index):
        both = index.candidate_keys(
            pf.pf_and([pf.PFTerm("norm", "alpha"), pf.PFTerm("norm", "gamma")])
        ).count()
        assert both == 40  # co-occur everywhere
        # never adjacent → positional intersection prunes to zero
        not_adj = index.candidate_keys(
            pf.PFPhrase(((0, "norm", "alpha"), (1, "norm", "gamma")))
        ).count()
        assert not_adj == 0
        # always adjacent → keeps everything
        adj = index.candidate_keys(
            pf.PFPhrase(((0, "norm", "alpha"), (1, "norm", "beta")))
        ).count()
        assert adj == 40
        # estimate = tightest anchor
        assert (
            index.estimated_candidates(
                pf.PFPhrase(((0, "norm", "alpha"), (1, "norm", "quick")))
            )
            == 8
        )

    def test_multi_term_anchor_in_phrase(self, index):
        # "[norm=/be.*/] gamma": the regex token anchors POSITIONALLY
        # through the dictionary expansion (beta is the only be.* term);
        # beta and gamma are adjacent only in docs with no inserted extras
        # (i%3==0 and i%5!=0 → 11 of 40)
        node = pf.PFPhrase(
            anchors=((1, "norm", "gamma"),),
            multi_anchors=((0, pf.PFMultiTerm("norm", "regex", "be.*")),),
        )
        keys = index.candidate_keys(node)
        assert keys.count() == 11
        # co-occurrence alone would admit all 40 — the expansion anchor
        # prunes positionally, not just by key
        assert (
            index.candidate_keys(
                pf.pf_and([pf.PFMultiTerm("norm", "regex", "be.*"), pf.PFTerm("norm", "gamma")])
            ).count()
            == 40
        )
        # estimate includes the expansion df (beta in all 40 docs)
        assert index.estimated_candidates(node) == 40
        # a never-matching expansion inside a phrase proves emptiness
        empty = pf.PFPhrase(
            anchors=((1, "norm", "gamma"),),
            multi_anchors=((0, pf.PFMultiTerm("norm", "regex", "zzz.*")),),
        )
        assert index.candidate_keys(empty).count() == 0

    def test_multi_term_anchor_emitted(self):
        ph = self._phrases(self._tree("fast [norm=/qu.*/]"))
        assert ph == [
            pf.PFPhrase(
                anchors=((0, "norm", "fast"),),
                multi_anchors=((1, pf.PFMultiTerm("norm", "regex", "qu.*")),),
            )
        ]

    def test_phrase_query_takes_candidate_join_route(self, index, scan_engine):
        eng = index.engine(max_candidate_frac=1.0)
        df = eng.mentions("alpha [] gamma")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LeftSemi" in plan
        a = sorted(map(tuple, df.select("doc_id", "sent_id", "start", "end").collect()))
        b = sorted(
            map(
                tuple,
                scan_engine.mentions("alpha [] gamma")
                .select("doc_id", "sent_id", "start", "end")
                .collect(),
            )
        )
        assert a == b and len(a) > 0


def test_streaming_ingest_into_index(spark, corpus, tmp_path):
    """Structured-Streaming ingest into the live index: each micro-batch
    lands via add_documents (foreachBatch), the Spark rendering of the
    reference's continuous indexing loop (IncrementalOdinsonIndex.scala:104
    indexOdinsonDoc called per incoming doc + refresh). After availableNow
    drains, streamed docs are index-reachable through the postings."""
    idx = TermIndex.build(tokenize_documents(corpus), str(tmp_path / "stream_index"))
    src = str(tmp_path / "incoming")
    new = spark.createDataFrame(
        [(2000 + i, "xylophone fast xylophone", "en") for i in range(3)],
        "doc_id long, text string, lang string",
    )
    new.write.parquet(src)
    stream = spark.readStream.schema(new.schema).parquet(src)
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, _id: idx.add_documents(tokenize_documents(batch))
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    keys = idx.candidate_keys(pf.PFTerm("norm", "xylophone"))
    assert keys is not None and keys.count() == 3
    hits = idx.engine().mentions("xylophone").collect()
    assert sorted({str(r.doc_id) for r in hits}) == ["2000", "2001", "2002"]


def test_explain_reports_route_and_reason(index):
    eng = index.engine(max_candidate_frac=0.5)
    # selective term → index route with a df estimate
    info = eng.explain("quick")
    assert info["route"] == "index" and info["estimated_candidates"] == 8
    # stop-word-class term → cost-model scan
    info = eng.explain("alpha")
    assert info["route"] == "scan" and "cost model" in info["reason"]
    # pure wildcard → unbounded prefilter scan
    info = eng.explain("[]")
    assert info["route"] == "scan" and "unbounded" in info["reason"]
    assert info["estimated_candidates"] is None


@pytest.mark.parametrize(
    "case", ["no_schemas", "positionless_postings", "no_stats_schema", "truncated_meta"]
)
def test_read_rejects_foreign_format(spark, index, tmp_path, case):
    """read() opens only the format build() writes: a directory whose meta
    pins no schemas, pins position-less postings, has no stats table, or is
    cut short mid-write is refused with an error naming it, not opened with
    partial pruning."""
    import json
    import shutil

    path = str(tmp_path / "foreign_index")
    shutil.copytree(index.path, path)
    meta_path = os.path.join(path, "odinson_index_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    if case == "no_schemas":
        del meta["schemas"]
    elif case == "positionless_postings":
        postings = json.loads(meta["schemas"]["postings"])
        postings["fields"] = [c for c in postings["fields"] if c["name"] != "positions"]
        meta["schemas"]["postings"] = json.dumps(postings)
    elif case == "no_stats_schema":
        del meta["schemas"]["stats"]
        shutil.rmtree(os.path.join(path, "stats"))
    with open(meta_path, "w") as f:
        text = json.dumps(meta)
        f.write(text[: len(text) // 2] if case == "truncated_meta" else text)
    with pytest.raises(OdinsonException, match=re.escape(path)):
        TermIndex.read(spark, path)


def test_file_uri_resolves_to_local_path(spark, tmp_path):
    """``file:`` URIs name the local directory at build and at read."""
    local = str(tmp_path / "uri_idx")
    sents = tokenize_documents(
        spark.createDataFrame([(1, "fast key", "en")], "doc_id long, text string, lang string")
    )
    built = TermIndex.build(sents, "file://" + local)
    assert built.path == local and os.path.isfile(os.path.join(local, "odinson_index_meta.json"))
    opened = TermIndex.read(spark, "file:" + local)
    assert opened.path == local
    assert opened.candidate_keys(pf.PFTerm("norm", "fast")).count() == 1


@pytest.mark.parametrize("op", ["build", "read"])
def test_non_local_uri_rejected(spark, op):
    """Meta, tombstone listing and the compact swaps are local-filesystem
    operations: any other scheme raises, naming the path, before anything
    is written."""
    path = "s3a://bucket/odinson_idx"
    with pytest.raises(OdinsonException, match=re.escape(path)):
        if op == "build":
            TermIndex.build(spark.createDataFrame([], "doc_id string"), path)
        else:
            TermIndex.read(spark, path)


def test_positional_postings_never_null(spark, index, tmp_path):
    """Every postings row of a positional layer (any field but the
    edge-label set ``deps_label``) carries positions, at build and after an
    append: the phrase filter and the synonym position union rely on it."""
    import shutil

    def null_positions(idx):
        positional = idx.postings.filter(F.col("field") != "deps_label")
        assert positional.count() > 0
        return positional.filter(F.col("positions").isNull()).count()

    assert null_positions(index) == 0
    path = str(tmp_path / "appended_index")
    shutil.copytree(index.path, path)
    idx = TermIndex.read(spark, path)
    new = spark.createDataFrame(
        [(4000, "zebra fast zebra", "en")], "doc_id long, text string, lang string"
    )
    idx.add_documents(tokenize_documents(new))
    assert idx.candidate_keys(pf.PFTerm("norm", "zebra")).count() == 1
    assert null_positions(idx) == 0


def test_random_patterns_index_equals_scan(spark, index, scan_engine):
    """Property check over the whole index planner: 40 seeded random
    patterns (terms, wildcards, exact quantifiers, optionals, regex, fuzzy)
    compiled into ONE grammar and extracted in a single pass on both
    engines — every candidate route (term lookup, multi-term rewrite,
    positional phrase, cost-model fallback, scan degrade on unconstrained
    arms) must agree with the scan path rule-for-rule."""
    import random

    import yaml

    from odinson_spark.lang.rules import RuleReader
    from odinson_spark.pipeline.extract import extract_mentions_df

    rng = random.Random(4242)
    vocab = ["alpha", "beta", "gamma", "fast", "key", "end", "quick", "sort", "zzz"]

    def element():
        r = rng.random()
        if r < 0.55:
            return rng.choice(vocab)
        if r < 0.70:
            return "[]"
        if r < 0.78:
            return "[]{2}"
        if r < 0.86:
            return f"[norm=/{rng.choice(['qu', 'fa', 'ga', 'zz'])}.*/]"
        if r < 0.93:
            return rng.choice(vocab) + "?"
        return rng.choice(vocab) + "~"

    rules = [
        {
            "name": f"r{i}",
            "type": "basic",
            "pattern": " ".join(element() for _ in range(rng.randint(2, 4))),
        }
        for i in range(40)
    ]
    exts, _ = RuleReader().compile_rules(yaml.safe_dump({"rules": rules}))

    def run(eng):
        m = extract_mentions_df(eng._prefilter_sentences(eng.sentences, exts), exts)
        return sorted(
            map(
                tuple,
                m.select("found_by", "doc_id", "sent_id", "start", "end").collect(),
            )
        )

    a = run(index.engine(max_candidate_frac=1.0))
    b = run(scan_engine)
    assert a == b and len(a) > 0


def test_random_lifecycle_matches_generation_model(spark, tmp_path):
    """Property check of the incremental lifecycle: a seeded random
    sequence of add / delete / update / compact ops, mirrored against an
    independent Python model of Lucene's sequence-number semantics
    (IncrementalOdinsonIndex.scala:104-124 — a delete hides only versions
    written BEFORE it; re-adds stay visible; compact is semantics-
    preserving). After every op the visible doc multiset must match."""
    import random

    rng = random.Random(99)
    base = spark.createDataFrame(
        [(i, "seed fast doc", "en") for i in range(4)],
        "doc_id long, text string, lang string",
    )
    idx = TermIndex.build(tokenize_documents(base), str(tmp_path / "life_idx"))
    # model: list of live (doc_id, gen); every doc body contains one 'fast'
    gen = 1
    live = [(i, 0) for i in range(4)]
    next_id = 100

    def visible():
        return sorted(d for d, _ in live)

    def spark_visible():
        return sorted(
            int(r.doc_id) for r in idx.engine().mentions("fast").collect()
        )

    for step in range(12):
        op = rng.choice(["add", "delete", "update", "compact"])
        if op == "add":
            ids = [next_id + k for k in range(rng.randint(1, 2))]
            next_id += len(ids)
            df = spark.createDataFrame(
                [(i, "added fast body", "en") for i in ids],
                "doc_id long, text string, lang string",
            )
            idx.add_documents(tokenize_documents(df))
            live.extend((i, gen) for i in ids)
            gen += 1
        elif op == "delete":
            if not live:
                continue
            victims = rng.sample([d for d, _ in live], k=min(2, len(live)))
            idx.delete_documents(victims)
            # tombstone cutoff = gen: hides versions with g < gen (all live)
            live = [(d, g) for d, g in live if d not in victims]
            gen += 1
        elif op == "update":
            if not live:
                continue
            victim = rng.choice([d for d, _ in live])
            df = spark.createDataFrame(
                [(victim, "updated fast body", "en")],
                "doc_id long, text string, lang string",
            )
            idx.update_documents(tokenize_documents(df))
            live = [(d, g) for d, g in live if d != victim]
            gen += 1  # the delete inside update
            live.append((victim, gen))
            gen += 1  # the add inside update
        else:
            idx.compact()  # semantics-preserving
        assert spark_visible() == visible(), (step, op)
        # index engine ≡ scan engine on the SAME live corpus after every
        # step — catches tombstone/positions edges the generation model
        # abstracts away (term lookup + a positional phrase so the
        # position-list path is exercised against stale/mixed postings)
        scan_eng = SearchEngine(idx.live_sentences())
        idx_eng = idx.engine(max_candidate_frac=1.0)
        for pat in ("fast", "added fast"):
            a = sorted(
                map(
                    tuple,
                    idx_eng.mentions(pat)
                    .select("doc_id", "sent_id", "start", "end")
                    .collect(),
                )
            )
            b = sorted(
                map(
                    tuple,
                    scan_eng.mentions(pat)
                    .select("doc_id", "sent_id", "start", "end")
                    .collect(),
                )
            )
            assert a == b, (step, op, pat)


def test_cost_model_routes_by_selectivity(spark, index):
    """Lucene-style docFreq planning: a stop-word-class term (appears in
    every doc — candidates >> max_candidate_frac) must skip the candidate
    join and use the prefiltered scan; a selective term must use it."""
    eng = index.engine(max_candidate_frac=0.1)
    # 'alpha' is in all 40 docs -> est = corpus -> scan route (no semi join)
    plan_common = (
        eng.mentions("alpha")._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftSemi" not in plan_common
    # 'quick' is in 8/40 docs (20%) -> under a generous frac -> join route
    eng_loose = index.engine(max_candidate_frac=0.5)
    plan_rare = (
        eng_loose.mentions("quick")._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftSemi" in plan_rare
    # df estimates themselves
    assert index.estimated_candidates(pf.PFTerm("norm", "alpha")) == 40
    assert index.estimated_candidates(pf.PFTerm("norm", "quick")) == 8
    assert index.estimated_candidates(
        pf.pf_and([pf.PFTerm("norm", "alpha"), pf.PFTerm("norm", "quick")])
    ) == 8
    assert index.estimated_candidates(
        pf.pf_or([pf.PFTerm("norm", "alpha"), pf.PFTerm("norm", "quick")])
    ) == 48
    assert index.estimated_candidates(pf.PFTrue()) is None


def test_postings_of_rows(spark):
    """The postings builder emits one row per (field, term, sentence): the
    term's bucket, its ascending token positions in positional layers, and
    null positions for the ``deps_label`` edge-label set, posted once per
    label. Null arrays and null tokens post nothing."""
    import zlib

    from odinson_spark.index import _postings_of

    src = spark.createDataFrame(
        [
            (0, "d1", 0, ["a", "b", "a"], ["nsubj", "dobj", "nsubj"]),
            (1, "d2", 3, ["b", None, "c"], None),
        ],
        "doc_bucket int, doc_id string, sent_id int, norm array<string>, "
        "deps_label array<string>",
    )

    def tb(term):
        return zlib.crc32(term.encode()) % 8

    rows = sorted(
        (r.field, r.term, r.doc_bucket, r.doc_id, r.sent_id, r.positions, r.tbucket)
        for r in _postings_of(src, ["norm", "deps_label"], 8).collect()
    )
    assert rows == sorted(
        [
            ("norm", "a", 0, "d1", 0, [0, 2], tb("a")),
            ("norm", "b", 0, "d1", 0, [1], tb("b")),
            ("deps_label", "dobj", 0, "d1", 0, None, tb("dobj")),
            ("deps_label", "nsubj", 0, "d1", 0, None, tb("nsubj")),
            ("norm", "b", 1, "d2", 3, [0], tb("b")),
            ("norm", "c", 1, "d2", 3, [2], tb("c")),
        ]
    )


def test_idx_graph_edge_anchor_in_plan(index, scan_engine):
    """An edge-anchored pattern through the index must (a) equal the scan
    path and (b) actually use the deps_label postings lookup when the
    candidate join is forced."""
    eng = index.engine(max_candidate_frac=1.0)
    pat = "quick >next []"
    a = sorted(
        map(tuple, eng.mentions(pat).select("doc_id", "sent_id", "start", "end").collect())
    )
    b = sorted(
        map(
            tuple,
            scan_engine.mentions(pat)
            .select("doc_id", "sent_id", "start", "end")
            .collect(),
        )
    )
    assert a == b and len(a) > 0
    plan = eng.mentions(pat)._jdf.queryExecution().executedPlan().toString()
    # the postings lookup of the edge label, pushed into the postings scan
    assert "EqualTo(field,deps_label)" in plan and "LeftSemi" in plan
