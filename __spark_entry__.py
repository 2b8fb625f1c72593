"""Query contract of the KG path: ``entry``, ``queries`` and ``oracle_sql``.

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 (surface patterns, quantifiers, assertions, captures, graph
traversals, events/triples, cascade+state, metadata filters) plus the KG
canonicalization, search, highlighting and materialized-index paths.
``oracle_sql()`` gives the exact DuckDB equivalent for every query —
including the full KG canonicalization (MinHash-LSH blocking from the same
hashes, recursive-CTE connected components) — so all entries are
hash-checked by ``tools/check_correctness.py``, none rows-only.

Extraction queries run over the synthetic ``documents`` table through the
staged pipeline every caller shares (tokenize → prefilter → match → emit),
using the whitespace tokenizer whose every derived layer is reproducible in SQL
(odinson_spark/tokenizer/code_tokenizer.py::annotate_text).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from odinson_spark.lang.rules import RuleReader
from odinson_spark.pipeline.components import connected_components_star
from odinson_spark.pipeline.extract import (
    apply_prefilter,
    extract_mentions_df,
    tokenize_documents,
    tokenize_repos,
    triples_from_mentions,
)
from odinson_spark.pipeline.linking import MERSENNE_P, _hash_params, lsh_candidate_pairs

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# kg_canonical's MinHash-LSH blocking; its oracle rebuilds the same buckets
KG_LSH = {"n_hashes": 16, "bands": 2, "k": 3, "seed": 42}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tokenize_documents(_t(spark, sf_dir, "documents"))


def _extract(sentences: DataFrame, extractors, use_state: bool = False) -> DataFrame:
    """Prefilter and match sentence rows: the one extraction route."""
    return extract_mentions_df(
        apply_prefilter(sentences, extractors), extractors, use_state=use_state
    )


def _run_pattern(spark, sf_dir, pattern: str, use_state: bool = False) -> DataFrame:
    """Compile a bare pattern (or a full ``rules:`` grammar) and extract its
    mentions from the ``documents`` table."""
    grammar_rules = pattern if pattern.lstrip().startswith("rules:") else None
    if grammar_rules is None:
        grammar = f"rules:\n  - name: q\n    type: basic\n    pattern: |\n      {pattern}\n"
    else:
        grammar = pattern
    extractors, _ = RuleReader().compile_rules(grammar)
    return _extract(_sentences(spark, sf_dir), extractors, use_state)


def _mention_spans(spark, sf_dir, pattern: str, rule: str | None = None, use_state=False) -> DataFrame:
    m = _run_pattern(spark, sf_dir, pattern, use_state)
    if rule:
        m = m.filter(F.col("found_by") == rule)
    return (
        m.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("start").alias("mstart"),
            F.col("end").alias("mend"),
            F.col("text").alias("mtext"),
        )
        .orderBy("doc_id", "mstart", "mend")
    )


# shared DuckDB token view: token `pos` is 0-based, mirrors annotate_text
_TOKS = """
WITH toks AS (
  SELECT doc_id, t.tok AS tok, (t.i - 1)::INT AS pos, len(d.ts)::INT AS n
  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) d,
       LATERAL (SELECT unnest(d.ts) AS tok, generate_subscripts(d.ts, 1) AS i) t
)
"""


def _span_sql(body: str) -> str:
    # wrap so ORDER BY binds to output aliases, not ambiguous join inputs
    return _TOKS + "SELECT * FROM (\n" + body + "\n) q ORDER BY doc_id, mstart, mend"


# ---------------------------------------------------------------------------
# entry — flagship: end-to-end triple extraction on sf0.001
# ---------------------------------------------------------------------------

EVENT_GRAMMAR = """
rules:
  - name: join-triple
    label: Join
    type: event
    priority: 1
    pattern: |
      trigger = [norm=join]
      subject = <next []
      object = >next []
"""


def entry(spark: SparkSession) -> DataFrame:
    extractors, _ = RuleReader().compile_rules(EVENT_GRAMMAR)
    mentions = _extract(_sentences(spark, DEFAULT_SF_DIR), extractors)
    return triples_from_mentions(mentions).orderBy("doc_id", "subj_start")


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable] = {}

    # --- surface patterns -------------------------------------------------
    q["pat_term"] = lambda s, d: _mention_spans(s, d, "fast")
    q["pat_concat"] = lambda s, d: _mention_spans(s, d, "fast table")
    q["pat_or"] = lambda s, d: _mention_spans(s, d, "hash | merge")
    q["pat_neg"] = lambda s, d: _mention_spans(s, d, "key [!norm=key]")
    q["pat_regex"] = lambda s, d: _mention_spans(s, d, "[norm=/qu.*/]")
    # fuzzy term: edit distance <= 2 (Lucene fuzzy-query default the
    # reference inherits); oracle is DuckDB levenshtein()
    q["pat_fuzzy"] = lambda s, d: _mention_spans(s, d, "fast~")

    def custom_field(s, d):
        """Config-driven token layer end-to-end (reference allTokenFields,
        TestFields.scala:42-94): a user-added `parity` layer (token-length
        parity, SQL-reproducible) is matched by the grammar like any
        built-in layer."""
        from odinson_spark.lang.rules import RuleReader as _RR

        sents = _sentences(s, d).withColumn(
            "parity",
            F.transform(
                F.col("raw"),
                lambda t: F.when(F.length(t) % 2 == 0, F.lit("even")).otherwise(
                    F.lit("odd")
                ),
            ),
        )
        reader = _RR.with_extra_token_fields(("parity",))
        extractors, _ = reader.compile_rules(
            "rules:\n  - name: q\n    type: basic\n    pattern: |\n"
            "      [parity=odd & norm=/s.*/]\n"
        )
        m = extract_mentions_df(
            apply_prefilter(sents, extractors), extractors,
            extra_token_fields=("parity",),
        )
        return m.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("start").alias("mstart"),
            F.col("end").alias("mend"),
            F.col("text").alias("mtext"),
        ).orderBy("doc_id", "mstart", "mend")

    q["custom_field"] = custom_field
    q["pat_conj"] = lambda s, d: _mention_spans(s, d, "[norm=fast & tag=WORD]")
    q["pat_quant_greedy"] = lambda s, d: _mention_spans(s, d, "fast+")
    q["pat_quant_lazy"] = lambda s, d: _mention_spans(s, d, "fast+?")
    q["pat_anchor_start"] = lambda s, d: _mention_spans(s, d, "<s> []")
    q["pat_anchor_end"] = lambda s, d: _mention_spans(s, d, "[] </s>")
    q["pat_lookahead"] = lambda s, d: _mention_spans(s, d, "group (?= scan)")
    q["pat_lookbehind"] = lambda s, d: _mention_spans(s, d, "(?<= scan) []")

    def pat_capture(s, d):
        m = _run_pattern(s, d, "(?<left> join) small")
        cap = F.element_at("captures", 1)
        return m.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("start").alias("mstart"),
            F.col("end").alias("mend"),
            cap["start"].alias("cap_start"),
            cap["text"].alias("cap_text"),
        ).orderBy("doc_id", "mstart")

    q["pat_capture"] = pat_capture

    # --- graph traversals -------------------------------------------------
    q["graph_out"] = lambda s, d: _mention_spans(s, d, "filter >next []")
    q["graph_in"] = lambda s, d: _mention_spans(s, d, "filter <next []")
    q["graph_hop2"] = lambda s, d: _mention_spans(s, d, "data >next [] >next []")
    q["graph_kleene"] = lambda s, d: _mention_spans(s, d, "agg >next* []")

    # --- branching multi-edge digraph (code mode) ---------------------------
    # The linear next-chain gates above can't distinguish edge labels; these
    # run the REAL code annotator (tokenizer/code_tokenizer.py::annotate_code)
    # on a deterministically constructed call expression per document —
    # `v_t0 = v_t1 ( v_t2 , v_t3 )` — whose dependency digraph branches:
    # token 2 (the CALL) has outgoing edges next→3, arg→4, arg→6, and
    # incoming assign←0, so the traversal must select among multiple
    # out-edges by label. The oracle predicts the answer from the
    # construction (positions are fixed by the lexer). Each document becomes
    # one repos row whose `repo` is its doc_id, so the sentence doc_id
    # `repo/path@commit` starts with it (_code_doc_id reads it back).
    def _code_sentences(s, d):
        docs = _t(s, d, "documents")
        toks = F.split(F.col("text"), " ")

        def clean(i):
            return F.concat(
                F.lit("v_"),
                F.regexp_replace(F.element_at(toks, i), "[^A-Za-z0-9_]", ""),
            )

        content = F.concat_ws(
            " ",
            clean(1), F.lit("="), clean(2), F.lit("("), clean(3), F.lit(","),
            clean(4), F.lit(")"),
        )
        repos = docs.filter(F.size(toks) >= 4).select(
            F.col("doc_id").cast("string").alias("repo"),
            F.lit("q.py").alias("path"),
            F.lit("0").alias("commit"),
            F.lit("python").alias("lang"),
            content.alias("content"),
        )
        return tokenize_repos(repos)

    def _code_doc_id():
        return F.split("doc_id", "/")[0].cast("long").alias("doc_id")

    def _code_pattern(s, d, pattern):
        grammar = f"rules:\n  - name: q\n    type: basic\n    pattern: |\n      {pattern}\n"
        extractors, _ = RuleReader().compile_rules(grammar)
        m = _extract(_code_sentences(s, d), extractors)
        return (
            m.select(
                _code_doc_id(),
                F.col("start").alias("mstart"),
                F.col("end").alias("mend"),
                F.col("text").alias("mtext"),
            )
            .orderBy("doc_id", "mstart", "mend")
        )

    q["graph_code_arg"] = lambda s, d: _code_pattern(s, d, "[entity=CALL] >arg []")
    q["graph_code_assign"] = lambda s, d: _code_pattern(s, d, "[] >assign []")
    # expansion (?^ …): surface + traversal + expansion in one pattern
    # (reference lucene/search/ExpandQuery.scala:125-145). The >arg hop lands
    # on each argument token; the inner `[] >next []` produces graph matches
    # grouped by source and widened to [min(start), max(end)]; the inverted
    # dst index admits every widened span covering the landing token and the
    # leftmost-longest selector keeps [3,5) "( argN" / [5,7) ", argN" —
    # fixed lexer positions the oracle predicts from the construction.
    q["pat_expand"] = lambda s, d: _code_pattern(
        s, d, "[entity=CALL] >arg (?^ [] >next [])"
    )

    # optional `?` (greedy) / `??` (lazy) — reference
    # lucene/search/OdinsonOptionalQuery.scala:57-78: greedy prefers the
    # present branch ('fast table' where the next token is 'table', else
    # 'fast'); lazy always prefers absence (bare 'fast')
    q["pat_opt"] = lambda s, d: _mention_spans(s, d, "fast table?")
    q["pat_opt_lazy"] = lambda s, d: _mention_spans(s, d, "fast table??")
    # traversal union (reference GraphTraversal.scala:155-170 Union): from
    # the CALL at pos 2, >arg lands on 4 and 6, >next on 3 — three fixed
    # dst tokens per constructed code doc
    q["graph_union"] = lambda s, d: _code_pattern(
        s, d, "[entity=CALL] (>arg | >next) []"
    )
    # optional traversal (GraphTraversal.scala Optional): no-hop keeps the
    # source token itself (pos 2) alongside the >arg landings (4, 6)
    q["graph_opt"] = lambda s, d: _code_pattern(s, d, "[entity=CALL] >arg? []")

    # filter/contains: mention-filtered terminal (reference
    # lucene/search/spans/OdinsonSpanContainingQuery.scala:88-104 via
    # Ast.scala addMentionFilterToTerminals) — priority-1 labels only the
    # token after '(' (pos 4); the priority-2 event's `object: FirstArg =
    # >arg []` terminal keeps only landing spans containing a FirstArg
    # mention, so of the two >arg landings (4, 6) only pos 4 survives
    FILTER_GRAMMAR = """
rules:
  - name: first-arg
    label: FirstArg
    type: basic
    priority: 1
    pattern: |
      (?<= [norm="("]) []
  - name: call-obj
    type: event
    priority: 2
    pattern: |
      trigger = [entity=CALL]
      object: FirstArg = >arg []
"""

    def event_arg_filter(s, d):
        extractors, _ = RuleReader().compile_rules(FILTER_GRAMMAR)
        m = _extract(_code_sentences(s, d), extractors, use_state=True)
        cap = F.explode("captures")
        return (
            m.filter(F.col("found_by") == "call-obj")
            .select(_code_doc_id(), cap.alias("c"))
            .select(
                "doc_id",
                F.col("c.start").alias("mstart"),
                F.col("c.end").alias("mend"),
                F.col("c.text").alias("mtext"),
            )
            .orderBy("doc_id", "mstart", "mend")
        )

    q["event_arg_filter"] = event_arg_filter

    # --- events / triples ---------------------------------------------------
    def event_triple(s, d):
        extractors, _ = RuleReader().compile_rules(EVENT_GRAMMAR)
        mentions = _extract(_sentences(s, d), extractors)
        triples = triples_from_mentions(mentions)
        return triples.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "rule",
            "pred",
            "subj_start",
            "subj_text",
            "obj_start",
            "obj_text",
        ).orderBy("doc_id", "subj_start", "obj_start")

    q["event_triple"] = event_triple

    # --- end-to-end KG canonicalization (north rule) ---------------------------
    def kg_canonical(s, d):
        """The full downstream KG path, oracle-checked: triples → entity
        surfaces → MinHash-LSH blocking (pipeline stage 1) → exact integer
        char-3-gram jaccard scoring (stage 2) → connected-components
        canonicalization (stage 3; DuckDB mirrors it with a recursive CTE).
        Output: (surface, canonical) where canonical = min surface of the
        equivalence class."""
        extractors, _ = RuleReader().compile_rules(EVENT_GRAMMAR)
        mentions = _extract(_sentences(s, d), extractors)
        triples = triples_from_mentions(mentions)
        surfaces = (
            triples.select(F.col("subj_text").alias("surface"))
            .union(triples.select(F.col("obj_text").alias("surface")))
            .distinct()
        )
        # the surface is both id and text, but the signature stage needs
        # two distinct columns
        sdf = surfaces.select(
            F.col("surface").alias("doc_id"), F.col("surface").alias("text")
        )
        cand = lsh_candidate_pairs(sdf, "doc_id", "text", **KG_LSH)

        def grams(c):
            padded = F.concat(F.lit(" "), F.lower(c), F.lit(" "))
            return F.when(
                F.length(padded) >= 3,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.length(padded) - 2),
                        lambda i: padded.substr(i, F.lit(3)),
                    )
                ),
            ).otherwise(F.array().cast("array<string>"))

        g = surfaces.select(
            F.col("surface").alias("_s"), grams(F.col("surface")).alias("_g")
        ).withColumn("_n", F.size("_g"))
        scored = (
            cand.join(
                g.select(
                    F.col("_s").alias("id_a"),
                    F.col("_g").alias("_ga"),
                    F.col("_n").alias("_na"),
                ),
                "id_a",
            )
            .join(
                g.select(
                    F.col("_s").alias("id_b"),
                    F.col("_g").alias("_gb"),
                    F.col("_n").alias("_nb"),
                ),
                "id_b",
            )
            .withColumn("_ni", F.size(F.array_intersect("_ga", "_gb")))
            .withColumn(
                "_jacc_e6",
                F.expr("CAST(_ni AS BIGINT) * 1000000 DIV (_na + _nb - _ni)"),
            )
        )
        kept = scored.filter(F.col("_jacc_e6") >= 500000).select("id_a", "id_b")
        cc = connected_components_star(surfaces, kept, id_col="surface")
        return cc.select(
            F.col("id").alias("surface"), F.col("component").alias("canonical")
        ).orderBy("surface")

    q["kg_canonical"] = kg_canonical

    # --- cascade + state ----------------------------------------------------
    CASCADE = """
rules:
  - name: find-np
    label: NP
    type: basic
    priority: 1
    pattern: |
      (?<np> the [!norm=the])
  - name: after-np
    label: AfterNP
    type: basic
    priority: 2
    pattern: |
      (?<= @NP) []
"""
    q["cascade_state"] = lambda s, d: _mention_spans(
        s, d, CASCADE, rule="after-np", use_state=True
    )

    # --- interactive top-N + searchAfter pagination ---------------------------
    def search_after_topn(s, d):
        """Page 2 of a paged search: page 1 (n=10) is fetched in-driver, its
        cursor feeds searchAfter, and the returned page-2 rows must equal the
        oracle's ORDER BY ... LIMIT 10 OFFSET 10 (the result key is unique,
        so cursor pagination ≡ offset pagination)."""
        from odinson_spark.search import SearchEngine

        eng = SearchEngine(tokenize_documents(_t(s, d, "documents")))
        p1 = eng.search("fast", n=10)
        assert p1.next_cursor is not None
        return (
            eng.mentions("fast", after=p1.next_cursor)
            .orderBy("doc_id", "sent_id", "start", "end")
            .limit(10)
            .select(
                "doc_id",
                F.col("start").alias("mstart"),
                F.col("end").alias("mend"),
                F.col("text").alias("mtext"),
            )
        )

    q["search_after_topn"] = search_after_topn

    # --- match highlighting (display layer) -----------------------------------
    def highlight_spans(s, d):
        from odinson_spark.pipeline.highlight import highlight_mentions

        sents = _sentences(s, d)
        extractors, _ = RuleReader().compile_rules(
            "rules:\n  - name: q\n    type: basic\n    pattern: |\n      fast table\n"
        )
        m = _extract(sents, extractors)
        h = highlight_mentions(m, sents)
        return h.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("start").alias("mstart"),
            "highlighted",
        ).orderBy("doc_id", "mstart")

    q["highlight_spans"] = highlight_spans

    # --- metadata filter (Catalyst predicate + extraction) -------------------
    def metadata_filter(s, d):
        docs = _t(s, d, "documents").filter(
            (F.col("lang") == "en") & (F.col("n_chars") > 200)
        )
        extractors, _ = RuleReader().compile_rules(
            "rules:\n  - name: q\n    type: basic\n    pattern: |\n      spark\n"
        )
        m = _extract(tokenize_documents(docs), extractors)
        return m.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("start").alias("mstart"),
            F.col("end").alias("mend"),
            F.col("text").alias("mtext"),
        ).orderBy("doc_id", "mstart")

    q["metadata_filter"] = metadata_filter

    def _idx_spans(s, d, pattern: str, **eng_kwargs):
        """Materialized-index query path (odinson_spark/index.py — the
        Spark analogue of the reference's prebuilt Lucene index,
        lucene/index/OdinsonIndexWriter.scala:113-205): tokenize → write
        bucketed sentences+postings → read back → posting-pruned search.
        Must emit exactly the scan-path mentions, so the oracle is the
        same SQL as the corresponding pat_* gate."""
        import tempfile

        from odinson_spark.index import TermIndex
        from odinson_spark.pipeline.extract import tokenize_documents

        tmp = tempfile.mkdtemp(prefix="odx_")
        idx = TermIndex.build(tokenize_documents(_t(s, d, "documents")), tmp)
        return (
            idx.engine(**eng_kwargs)
            .mentions(pattern)
            .select(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.col("start").alias("mstart"),
                F.col("end").alias("mend"),
                F.col("text").alias("mtext"),
            )
            .orderBy("doc_id", "mstart", "mend")
        )

    q["idx_term"] = lambda s, d: _idx_spans(s, d, "fast")
    q["idx_conj"] = lambda s, d: _idx_spans(s, d, "fast table")
    # multi-term rewrite path (index.py _expand_multi_term — Lucene's
    # RegexpQuery/FuzzyQuery rewrite against the terms enum):
    # max_candidate_frac=1.0 forces the candidate join so the gate exercises
    # the dictionary expansion itself, not the cost-model scan fallback
    q["idx_regex"] = lambda s, d: _idx_spans(
        s, d, "[norm=/qu.*/]", max_candidate_frac=1.0
    )
    q["idx_fuzzy"] = lambda s, d: _idx_spans(s, d, "fast~", max_candidate_frac=1.0)
    # positional-postings path (index.py PFPhrase — Lucene SpanNearQuery
    # parity): anchors at offsets 0 and 2 with a wildcard gap, so the index
    # must intersect position lists, not just per-sentence key sets
    q["idx_phrase_gap"] = lambda s, d: _idx_spans(
        s, d, "fast [] table", max_candidate_frac=1.0
    )

    def _q_idx_incremental(s, d):
        """Live-index lifecycle (index.py add/delete/update — reference
        IncrementalOdinsonIndex.scala:104-124): build the index WITHOUT the
        doc_id%10==3 stratum, add it back incrementally (append into the
        same bucket dirs), then tombstone the doc_id%10==7 stratum. The
        result must equal a plain term query over documents minus the
        deleted stratum — adds fully queryable, deletes fully hidden."""
        import tempfile

        from odinson_spark.index import TermIndex
        from odinson_spark.pipeline.extract import tokenize_documents

        docs = _t(s, d, "documents")
        base = docs.filter(F.col("doc_id").cast("long") % 10 != 3)
        added = docs.filter(F.col("doc_id").cast("long") % 10 == 3)
        tmp = tempfile.mkdtemp(prefix="odx_inc_")
        idx = TermIndex.build(tokenize_documents(base), tmp)
        idx.add_documents(tokenize_documents(added))
        victims = [
            r[0]
            for r in docs.filter(F.col("doc_id").cast("long") % 10 == 7)
            .select("doc_id")
            .collect()
        ]
        idx.delete_documents(victims)
        return (
            idx.engine()
            .mentions("fast")
            .select(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.col("start").alias("mstart"),
                F.col("end").alias("mend"),
                F.col("text").alias("mtext"),
            )
            .orderBy("doc_id", "mstart", "mend")
        )

    q["idx_incremental"] = _q_idx_incremental
    # edge-anchored pattern through the index path (reference traversal-
    # anchor pushdown, QueryCompiler.scala:544-615): the prefilter emits
    # PFEdge('next') alongside the PFTerm, so the candidate join includes
    # a deps_label postings lookup (plan asserted in
    # tests/test_index.py::test_idx_graph_edge_anchor_in_plan);
    # max_candidate_frac=1.0 forces the join so the gate exercises the
    # edge lookup, not the cost-model scan fallback. Results ≡ scan path.
    q["idx_graph"] = lambda s, d: _idx_spans(
        s, d, "agg >next []", max_candidate_frac=1.0
    )

    return q


def minhash_lsh_ctes(table: str, n_hashes: int, bands: int, k: int, seed: int) -> str:
    """Composable DuckDB CTE chain (no WITH keyword) defining, over
    ``{table}(doc_id, text)``: ``sh`` (distinct k-shingles) and
    ``lsh_pairs(doc_a, doc_b)`` — the candidate-pair set
    ``pipeline.linking.lsh_candidate_pairs`` produces with the same
    parameters: same md5 shingle hashes and universal-hash permutations.
    Buckets here are keyed on the band's signature values, there on their
    xxhash64, so the sets agree unless two bands' hashes collide or a
    bucket exceeds that function's ``max_bucket_size``. Callers prepend
    their own CTEs and append a final SELECT."""
    a, b = _hash_params(n_hashes, seed)
    r = n_hashes // bands
    values = ", ".join(f"({i}, {int(a[i])}, {int(b[i])})" for i in range(n_hashes))
    return f"""
params(k, a, b) AS (VALUES {values}),
docs AS (SELECT doc_id, ' ' || lower(text) || ' ' AS t FROM {table}),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - {k - 1})) AS i FROM docs
),
sh AS (
  SELECT DISTINCT doc_id, substr(t, i::INT, {k}) AS s FROM idx
),
hv AS (SELECT doc_id, ('0x' || substring(md5(s), 1, 15))::UBIGINT::HUGEINT AS h FROM sh),
sig AS (
  SELECT doc_id, k, min((a::HUGEINT * h + b) % {MERSENNE_P}) AS mh
  FROM hv, params GROUP BY doc_id, k
),
bandkeys AS (
  SELECT doc_id, k // {r} AS band,
         string_agg(mh::VARCHAR, '-' ORDER BY k) AS band_key
  FROM sig GROUP BY doc_id, k // {r}
),
lsh_pairs AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bandkeys x JOIN bandkeys y
    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
)"""


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for every ``queries()`` entry."""
    o: dict[str, str] = {}

    def spans(where_or_body: str, body: bool = False) -> str:
        if body:
            return _span_sql(where_or_body)
        return _span_sql(
            f"SELECT doc_id, pos AS mstart, (pos + 1)::INT AS mend, tok AS mtext "
            f"FROM toks WHERE {where_or_body}"
        )

    o["pat_term"] = spans("tok = 'fast'")
    # index path ≡ scan path: same mention stream, same oracles
    o["idx_term"] = spans("tok = 'fast'")
    # incremental lifecycle: add-back is invisible in the final state; the
    # tombstoned doc_id%10==7 stratum is gone
    o["idx_incremental"] = spans("tok = 'fast' AND doc_id % 10 <> 7")
    o["pat_concat"] = spans(
        """
SELECT a.doc_id, a.pos AS mstart, (a.pos + 2)::INT AS mend,
       a.tok || ' ' || b.tok AS mtext
FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.tok = 'fast' AND b.tok = 'table'
""",
        body=True,
    )
    o["idx_conj"] = o["pat_concat"]
    o["pat_or"] = spans("tok = 'hash' OR tok = 'merge'")
    o["pat_neg"] = spans(
        """
SELECT a.doc_id, a.pos AS mstart, (a.pos + 2)::INT AS mend,
       a.tok || ' ' || b.tok AS mtext
FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.tok = 'key' AND b.tok <> 'key'
""",
        body=True,
    )
    o["pat_regex"] = spans("regexp_full_match(tok, 'qu.*')")
    o["pat_fuzzy"] = spans("levenshtein(tok, 'fast') <= 2")
    # index multi-term rewrite ≡ scan path: same oracles as the pat_* twins
    o["idx_regex"] = o["pat_regex"]
    o["idx_fuzzy"] = o["pat_fuzzy"]
    # gapped phrase: anchors at pos and pos+2, any token between
    o["idx_phrase_gap"] = spans(
        """
SELECT a.doc_id, a.pos AS mstart, (a.pos + 3)::INT AS mend,
       a.tok || ' ' || m.tok || ' ' || b.tok AS mtext
FROM toks a
JOIN toks m ON a.doc_id = m.doc_id AND m.pos = a.pos + 1
JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 2
WHERE a.tok = 'fast' AND b.tok = 'table'
""",
        body=True,
    )
    o["custom_field"] = spans(
        "len(tok) % 2 = 1 AND regexp_full_match(tok, 's.*')"
    )
    o["pat_conj"] = spans("tok = 'fast' AND NOT regexp_full_match(tok, '[0-9]+')")
    o["pat_quant_greedy"] = spans(
        """
SELECT doc_id, min(pos)::INT AS mstart, (max(pos) + 1)::INT AS mend,
       string_agg(tok, ' ' ORDER BY pos) AS mtext
FROM (
  SELECT doc_id, pos, tok,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM toks WHERE tok = 'fast'
)
GROUP BY doc_id, grp
""",
        body=True,
    )
    o["pat_quant_lazy"] = spans("tok = 'fast'")
    o["pat_anchor_start"] = spans("pos = 0")
    o["pat_anchor_end"] = spans("pos = n - 1")
    o["pat_lookahead"] = spans(
        """
SELECT a.doc_id, a.pos AS mstart, (a.pos + 1)::INT AS mend, a.tok AS mtext
FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.tok = 'group' AND b.tok = 'scan'
""",
        body=True,
    )
    o["pat_lookbehind"] = spans(
        """
SELECT b.doc_id, b.pos AS mstart, (b.pos + 1)::INT AS mend, b.tok AS mtext
FROM toks b JOIN toks a ON a.doc_id = b.doc_id AND a.pos = b.pos - 1
WHERE a.tok = 'scan'
""",
        body=True,
    )
    o["pat_capture"] = _span_sql(
        """
SELECT a.doc_id AS doc_id, a.pos AS mstart, (a.pos + 2)::INT AS mend,
       a.pos AS cap_start, a.tok AS cap_text
FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.tok = 'join' AND b.tok = 'small'
"""
    ).replace("ORDER BY doc_id, mstart, mend", "ORDER BY doc_id, mstart")

    # index edge-anchor path ≡ scan path: distinct >next landings from 'agg'
    o["idx_graph"] = spans(
        """
SELECT DISTINCT b.doc_id, b.pos AS mstart, (b.pos + 1)::INT AS mend, b.tok AS mtext
FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.tok = 'agg'
""",
        body=True,
    )
    o["graph_out"] = spans(
        """
SELECT DISTINCT b.doc_id, b.pos AS mstart, (b.pos + 1)::INT AS mend, b.tok AS mtext
FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.tok = 'filter'
""",
        body=True,
    )
    o["graph_in"] = spans(
        """
SELECT DISTINCT b.doc_id, b.pos AS mstart, (b.pos + 1)::INT AS mend, b.tok AS mtext
FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos - 1
WHERE a.tok = 'filter'
""",
        body=True,
    )
    o["graph_hop2"] = spans(
        """
SELECT DISTINCT b.doc_id, b.pos AS mstart, (b.pos + 1)::INT AS mend, b.tok AS mtext
FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 2
WHERE a.tok = 'data'
""",
        body=True,
    )
    o["graph_kleene"] = spans(
        """
SELECT t.doc_id, t.pos AS mstart, (t.pos + 1)::INT AS mend, t.tok AS mtext
FROM toks t
JOIN (SELECT doc_id, min(pos) AS p0 FROM toks WHERE tok = 'agg' GROUP BY doc_id) m
  ON t.doc_id = m.doc_id AND t.pos >= m.p0
""",
        body=True,
    )

    # code-mode digraph gates: the oracle reproduces the construction
    # (clean tokens exactly as the Spark side does) and predicts the lexer's
    # fixed positions: tokens are [t0, =, t1, (, t2, ,, t3, )], the CALL at
    # pos 2 has arg edges to pos 4 and 6, and assign goes 0 → 2
    _CODE_TOKS = """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
c AS (
  SELECT doc_id,
         'v_' || regexp_replace(ts[1], '[^A-Za-z0-9_]', '', 'g') AS t0,
         'v_' || regexp_replace(ts[2], '[^A-Za-z0-9_]', '', 'g') AS t1,
         'v_' || regexp_replace(ts[3], '[^A-Za-z0-9_]', '', 'g') AS t2,
         'v_' || regexp_replace(ts[4], '[^A-Za-z0-9_]', '', 'g') AS t3
  FROM d WHERE len(ts) >= 4
)
"""
    o["graph_code_arg"] = (
        _CODE_TOKS
        + """
SELECT * FROM (
  SELECT doc_id, 4::INT AS mstart, 5::INT AS mend, t2 AS mtext FROM c
  UNION ALL
  SELECT doc_id, 6::INT AS mstart, 7::INT AS mend, t3 AS mtext FROM c
) q ORDER BY doc_id, mstart, mend
"""
    )
    o["graph_code_assign"] = (
        _CODE_TOKS
        + """
SELECT doc_id, 2::INT AS mstart, 3::INT AS mend, t1 AS mtext FROM c
ORDER BY doc_id, mstart, mend
"""
    )
    o["pat_expand"] = (
        _CODE_TOKS
        + """
SELECT * FROM (
  SELECT doc_id, 3::INT AS mstart, 5::INT AS mend, '( ' || t2 AS mtext FROM c
  UNION ALL
  SELECT doc_id, 5::INT AS mstart, 7::INT AS mend, ', ' || t3 AS mtext FROM c
) q ORDER BY doc_id, mstart, mend
"""
    )
    # optional `?`: greedy takes 'fast table' when the successor is 'table',
    # else the bare 'fast'
    o["pat_opt"] = spans(
        """
SELECT a.doc_id, a.pos AS mstart,
       CASE WHEN b.tok = 'table' THEN a.pos + 2 ELSE a.pos + 1 END::INT AS mend,
       CASE WHEN b.tok = 'table' THEN a.tok || ' ' || b.tok ELSE a.tok END AS mtext
FROM toks a LEFT JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.tok = 'fast'
""",
        body=True,
    )
    # lazy `??`: absence always preferred — bare 'fast' spans
    o["pat_opt_lazy"] = spans("tok = 'fast'")
    # traversal union from CALL@2: >next → '(' at 3, >arg → t2@4 and t3@6
    o["graph_union"] = (
        _CODE_TOKS
        + """
SELECT * FROM (
  SELECT doc_id, 3::INT AS mstart, 4::INT AS mend, '(' AS mtext FROM c
  UNION ALL
  SELECT doc_id, 4::INT AS mstart, 5::INT AS mend, t2 AS mtext FROM c
  UNION ALL
  SELECT doc_id, 6::INT AS mstart, 7::INT AS mend, t3 AS mtext FROM c
) q ORDER BY doc_id, mstart, mend
"""
    )
    # optional traversal from CALL@2: no-hop keeps t1@2, >arg lands on 4, 6
    o["graph_opt"] = (
        _CODE_TOKS
        + """
SELECT * FROM (
  SELECT doc_id, 2::INT AS mstart, 3::INT AS mend, t1 AS mtext FROM c
  UNION ALL
  SELECT doc_id, 4::INT AS mstart, 5::INT AS mend, t2 AS mtext FROM c
  UNION ALL
  SELECT doc_id, 6::INT AS mstart, 7::INT AS mend, t3 AS mtext FROM c
) q ORDER BY doc_id, mstart, mend
"""
    )
    # contains-filter: of the >arg landings (4, 6) only pos 4 is covered by
    # a FirstArg mention (the token after '(')
    o["event_arg_filter"] = (
        _CODE_TOKS
        + """
SELECT doc_id, 4::INT AS mstart, 5::INT AS mend, t2 AS mtext FROM c
ORDER BY doc_id, mstart, mend
"""
    )

    o["event_triple"] = (
        _TOKS
        + """
SELECT * FROM (
  SELECT t.doc_id AS doc_id, 'join-triple' AS rule, 'Join' AS pred,
         s.pos AS subj_start, s.tok AS subj_text,
         ob.pos AS obj_start, ob.tok AS obj_text
  FROM toks t
  JOIN toks s  ON s.doc_id = t.doc_id AND s.pos = t.pos - 1
  JOIN toks ob ON ob.doc_id = t.doc_id AND ob.pos = t.pos + 1
  WHERE t.tok = 'join'
) q ORDER BY doc_id, subj_start, obj_start
"""
    )

    # end-to-end KG canonicalization: surfaces from the event triples, the
    # shared minhash CTE chain for blocking, integer jaccard scoring, and
    # min-label connected components as a recursive CTE (UNION dedup makes
    # the walk terminate on cycles; min over reachable labels = component)
    o["kg_canonical"] = (
        "WITH RECURSIVE "
        + """
tokall AS (
  SELECT doc_id, t.tok AS tok, (t.i - 1)::INT AS pos
  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) d,
       LATERAL (SELECT unnest(d.ts) AS tok, generate_subscripts(d.ts, 1) AS i) t
),
surfaces AS (
  SELECT DISTINCT s.tok AS doc_id, s.tok AS text
  FROM tokall t JOIN tokall s ON s.doc_id = t.doc_id AND s.pos = t.pos - 1
  WHERE t.tok = 'join'
  UNION
  SELECT DISTINCT ob.tok, ob.tok
  FROM tokall t JOIN tokall ob ON ob.doc_id = t.doc_id AND ob.pos = t.pos + 1
  WHERE t.tok = 'join'
),
"""
        + minhash_lsh_ctes("surfaces", **KG_LSH)
        + """,
gsz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, count(*) AS ni
  FROM lsh_pairs p
  JOIN sh a ON a.doc_id = p.doc_a
  JOIN sh b ON b.doc_id = p.doc_b AND b.s = a.s
  GROUP BY p.doc_a, p.doc_b
),
kept AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN gsz ga ON ga.doc_id = i.doc_a
  JOIN gsz gb ON gb.doc_id = i.doc_b
  WHERE i.ni * 1000000 // (ga.n + gb.n - i.ni) >= 500000
),
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM kept
  UNION
  SELECT doc_b, doc_a FROM kept
),
walk(node, comp) AS (
  SELECT doc_id, doc_id FROM surfaces
  UNION
  SELECT e.dst, w.comp FROM walk w JOIN sym e ON e.src = w.node
)
SELECT node AS surface, min(comp) AS canonical FROM walk
GROUP BY node ORDER BY surface
"""
    )

    o["cascade_state"] = spans(
        """
SELECT c.doc_id, c.pos AS mstart, (c.pos + 1)::INT AS mend, c.tok AS mtext
FROM toks a
JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
JOIN toks c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
WHERE a.tok = 'the' AND b.tok <> 'the'
""",
        body=True,
    )

    # pagination: the sentence table's doc_id is a STRING key, so the page
    # order (and the offset) is lexicographic — the oracle casts to VARCHAR
    o["search_after_topn"] = (
        _TOKS
        + """
SELECT doc_id::VARCHAR AS doc_id, pos AS mstart, (pos + 1)::INT AS mend, tok AS mtext
FROM toks WHERE tok = 'fast'
ORDER BY doc_id::VARCHAR, mstart
LIMIT 10 OFFSET 10
"""
    )

    # highlighting: rebuild the (100-token-capped) sentence around the span
    o["highlight_spans"] = """
WITH d AS (
  SELECT doc_id, list_slice(string_split(text, ' '), 1, 100) AS ts FROM documents
),
toks AS (
  SELECT doc_id, t.tok AS tok, (t.i - 1)::INT AS pos
  FROM d, LATERAL (SELECT unnest(d.ts) AS tok, generate_subscripts(d.ts, 1) AS i) t
),
hits AS (
  SELECT a.doc_id, a.pos AS mstart, (a.pos + 2)::INT AS mend
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.tok = 'fast' AND b.tok = 'table'
)
SELECT h.doc_id, h.mstart,
       array_to_string(
         list_concat(
           list_concat(
             d.ts[1:h.mstart],
             ['<mark>' || array_to_string(d.ts[h.mstart + 1:h.mend], ' ') || '</mark>']
           ),
           d.ts[h.mend + 1:len(d.ts)]
         ), ' ') AS highlighted
FROM hits h JOIN d ON d.doc_id = h.doc_id
ORDER BY h.doc_id, h.mstart
"""

    o["metadata_filter"] = (
        """
WITH toks AS (
  SELECT doc_id, t.tok AS tok, (t.i - 1)::INT AS pos
  FROM (SELECT doc_id, string_split(text, ' ') AS ts
        FROM documents WHERE lang = 'en' AND n_chars > 200) d,
       LATERAL (SELECT unnest(d.ts) AS tok, generate_subscripts(d.ts, 1) AS i) t
)
SELECT doc_id, pos AS mstart, (pos + 1)::INT AS mend, tok AS mtext
FROM toks WHERE tok = 'spark'
ORDER BY doc_id, mstart
"""
    )
    return o
