"""Physical-plan assertions: the optimizations we claim must be visible in
the executed plan, not just intended."""

from odinson_spark.lang.rules import RuleReader
from odinson_spark.match.extractor import BatchExtractor
from odinson_spark.pipeline.extract import (
    apply_prefilter,
    extract_mentions_df,
    required_columns,
    tokenize_documents,
)
from odinson_spark.plans.prefilter import (
    PFAnd,
    PFEdge,
    PFMultiTerm,
    PFPhrase,
    PFTerm,
    prefilter_of,
    to_spark_column,
)
from odinson_spark.testing import sentence_batch_from_docs
from odinson_spark.tokenizer.code_tokenizer import annotate_text


def _grammar(pattern):
    g = f"rules:\n  - name: q\n    type: basic\n    pattern: |\n      {pattern}\n"
    extractors, _ = RuleReader().compile_rules(g)
    return extractors


def test_prefilter_extraction_shapes():
    (e,) = _grammar("fast table")
    pf = prefilter_of(e.program)
    # term containment for the scan path + the positional phrase for the index
    assert pf == PFAnd(
        (
            PFTerm("norm", "fast"),
            PFTerm("norm", "table"),
            PFPhrase(((0, "norm", "fast"), (1, "norm", "table"))),
        )
    )
    (e,) = _grammar("[word=cats] >conj_and [tag=/N.*/]")
    pf = prefilter_of(e.program)
    # src term AND the traversal's edge label; the regex dst becomes a
    # multi-term node (TRUE on the scan path, dictionary rewrite on the index)
    assert PFTerm("word", "cats") in pf.subs and PFEdge("conj_and") in pf.subs
    assert PFMultiTerm("tag", "regex", "N.*") in pf.subs


def test_prefilter_soundness_optional_is_true():
    (e,) = _grammar("fast? table")
    pf = prefilter_of(e.program)
    # optional clause must not constrain; required clause must
    assert pf == PFTerm("norm", "table")


def test_prefilter_pushed_into_scan(spark, tmp_path):
    # write a real parquet so the scan shows PushedFilters; prefilter columns
    # must reach the FileScan, and the matcher stage must come after
    docs = spark.createDataFrame(
        [(1, "fast table now", "en"), (2, "nothing here", "en")],
        "doc_id long, text string, lang string",
    )
    p = str(tmp_path / "sents")
    tokenize_documents(docs).write.parquet(p)
    sents = spark.read.parquet(p)
    extractors = _grammar("fast table")
    filtered = apply_prefilter(sents, extractors)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "array_contains" in plan
    assert filtered.count() == 1


def test_column_pruning_for_matcher():
    extractors = _grammar("[word=cats] [tag=NN]")
    cols = required_columns(extractors)
    assert "word" in cols and "tag" in cols
    assert "chunk" not in cols and "entity" not in cols and "lemma" not in cols
    # no graph operators -> no deps columns
    assert not any(c.startswith("deps_") for c in cols)
    # a traversal ships the edge arrays the matcher reads, and not the roots
    cols = required_columns(_grammar("[word=cats] >nsubj [tag=NN]"))
    assert [c for c in cols if c.startswith("deps_")] == ["deps_src", "deps_dst", "deps_label"]


def test_text_prefilter_column_sql(spark):
    (e,) = _grammar("fast table")
    pf = prefilter_of(e.program)
    col = to_spark_column(pf)
    s = str(col._jc)
    assert "fast" in s and "table" in s


def test_fused_equals_staged(spark):
    docs = spark.createDataFrame(
        [(1, "alpha join beta gamma", "en"), (2, "join alone", "en")],
        "doc_id long, text string, lang string",
    )
    import __spark_entry__ as em

    extractors, _ = RuleReader().compile_rules(em.EVENT_GRAMMAR)
    staged = extract_mentions_df(
        apply_prefilter(tokenize_documents(docs), extractors), extractors
    )
    # Spark-free reference: the same annotator and matcher on the driver
    sents, doc_ids, sent_ids = [], [], []
    for r in docs.collect():
        for sent in annotate_text(r.text):
            sents.append(sent)
            doc_ids.append(str(r.doc_id))
            sent_ids.append(sent["sent_id"])
    ref = BatchExtractor(extractors).extract_no_state(
        sentence_batch_from_docs(sents), doc_ids, sent_ids
    )
    key = lambda r: (r.doc_id, r.sent_id, r.start, r.end, r.found_by)
    assert sorted(map(key, staged.collect())) == sorted(map(key, ref))


def test_every_gate_query_has_an_oracle():
    import __spark_entry__ as em

    assert set(em.queries()) == set(em.oracle_sql())


def test_every_module_imports():
    """Every module of the package imports without a Spark session, so an
    import left dangling by a deletion fails here in seconds instead of
    later inside a Python worker."""
    import importlib
    import pkgutil

    import odinson_spark

    names = [
        m.name for m in pkgutil.walk_packages(odinson_spark.__path__, "odinson_spark.")
    ]
    assert "odinson_spark.index" in names
    for name in names:
        importlib.import_module(name)
