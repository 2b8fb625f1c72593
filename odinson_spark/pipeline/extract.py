"""Spark extraction stages.

Layout of the distributed job (idiomatic-Spark re-expression of the
reference's index+search lifecycle, ExtractorEngine.scala §3 of SURVEY.md):

1. ``tokenize_repos`` / ``tokenize_documents`` — ``mapInPandas`` annotation
   stage (repos(content) → sentence rows). Pure, deterministic, no shuffle.
2. ``apply_prefilter`` — a Catalyst-pushable necessary condition derived from
   the compiled rules (plans/prefilter.py). No shuffle; enables scan pruning.
3. ``extract_mentions_df`` — ``mapInPandas`` matcher stage. Rules are
   compiled on the driver and shipped once per executor via broadcast.
   No shuffle: each sentence row is self-contained (token layers + graph).
4. ``triples_from_mentions`` — pure DataFrame ops (filter/explode on the
   captures array); stays in whole-stage codegen.

Scale notes: stages 1–3 are embarrassingly parallel (the only wide ops in
the whole extraction path are the optional state-cascade joins and the final
write). Skew from giant files is handled upstream by salted repartitioning
(pipeline/skew.py).
"""

from __future__ import annotations

from typing import Iterable, Iterator, List, Optional, Sequence, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lang import ast
from ..lang.rules import Extractor
from ..match import program as prog
from ..match.context import SentenceBatch
from ..match.extractor import BatchExtractor
from ..plans.prefilter import pf_or, prefilter_of, to_spark_column
from ..schema import (
    EDGE_COLUMNS,
    MENTIONS_SCHEMA,
    SENTENCES_SCHEMA,
    TRIPLES_SCHEMA,
    sentences_schema,
)
from ..tokenizer.code_tokenizer import annotate_code, annotate_text, content_sha

# ---------------------------------------------------------------------------
# stage 1: tokenize
# ---------------------------------------------------------------------------


def _fan_out(df: DataFrame) -> DataFrame:
    """Small inputs often arrive as one parquet split; the Python annotate/
    match stages scale with partition count, so widen to the session's
    parallelism. On a real corpus (thousands of splits) this is a no-op."""
    # one wave of core-count tasks measured fastest on local[*]; finer tasks
    # add per-task Arrow/scheduling overhead without helping balance here
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        # physical partition count straight off the query execution — avoids
        # building the Python RDD wrapper (and its deserializer) per call
        nparts = df._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:
        nparts = df.rdd.getNumPartitions()
    if nparts < target:
        return df.repartition(target)
    return df


# columns filled from the document (and num_tokens from the raw layer);
# every other sentence column is read off the sentence dict by its name
_DOC_COLS = ("doc_id", "content_sha", "lang", "num_tokens")


def _sentences_frame(
    annotated: Iterable[Tuple[str, str, Optional[str], list]], extra_token_fields=()
) -> pd.DataFrame:
    """(doc_id, sha, lang, sentences) stream → one Arrow-ready frame with the
    columns of ``sentences_schema(extra_token_fields)``. A sentence dict is
    keyed by those column names (tokenizer/code_tokenizer.py), so the frame
    is built column-wise with no per-column knowledge: one DataFrame
    construction per batch, no per-sentence row dict."""
    names = [f.name for f in sentences_schema(extra_token_fields).fields]
    docs: list = []
    sents: list = []
    for doc_id, sha, lang, sentences in annotated:
        for s in sentences:
            docs.append((doc_id, sha, lang, len(s["raw"])))
            sents.append(s)
    if not sents:
        # empty dict-of-lists would infer float64 columns Arrow can't cast
        return pd.DataFrame(columns=names)
    data = dict(zip(_DOC_COLS, map(list, zip(*docs))))
    for c in names:
        if c not in data:
            data[c] = [s.get(c) for s in sents]
    return pd.DataFrame(data, columns=names)


def tokenize_repos(repos: DataFrame, max_tokens: int = 100) -> DataFrame:
    """repos(repo, path, commit, lang, content) → sentence rows."""
    repos = _fan_out(repos)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _sentences_frame(
                (
                    f"{repo}/{path}@{commit}",
                    content_sha(content or ""),
                    lang,
                    annotate_code(content or "", max_tokens),
                )
                for repo, path, commit, lang, content in zip(
                    pdf["repo"], pdf["path"], pdf["commit"], pdf["lang"], pdf["content"]
                )
            )

    return repos.mapInPandas(fn, SENTENCES_SCHEMA)


def tokenize_documents(documents: DataFrame, max_tokens: int = 100) -> DataFrame:
    """documents(doc_id, text, lang, …) → sentence rows (whitespace mode)."""
    documents = _fan_out(documents)
    has_lang = "lang" in documents.columns

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            langs = pdf["lang"] if has_lang else [None] * len(pdf)
            yield _sentences_frame(
                (
                    str(doc_id),
                    content_sha(text or ""),
                    lang,
                    annotate_text(text or "", max_tokens),
                )
                for doc_id, text, lang in zip(pdf["doc_id"], pdf["text"], langs)
            )

    return documents.mapInPandas(fn, SENTENCES_SCHEMA)


# ---------------------------------------------------------------------------
# stage 2: prefilter
# ---------------------------------------------------------------------------


def combined_prefilter(extractors: Sequence[Extractor]):
    """A sentence can match the grammar iff it can match *some* rule."""
    return pf_or([prefilter_of(e.program) for e in extractors])


def apply_prefilter(sentences: DataFrame, extractors: Sequence[Extractor]) -> DataFrame:
    pf = combined_prefilter(extractors)
    return sentences.filter(to_spark_column(pf, columns=sentences.columns))


# ---------------------------------------------------------------------------
# stage 3: match (mapInPandas)
# ---------------------------------------------------------------------------

_LAYER_NAMES = ("raw", "word", "norm", "norm_alt", "lemma", "tag", "chunk", "entity")


def _grammar_reads(programs) -> Tuple[set, bool]:
    """(token fields the programs read, whether they need the edge columns):
    one walk over the compiled programs. Traversals and events read the
    graph, and so does an ``[incoming=]``/``[outgoing=]`` constraint — those
    labels are derived from the edges (SentenceBatch.multi_field)."""
    fields = set()
    graph = False

    def walk_mask(e):
        if isinstance(e, prog.LeafMask):
            fields.add(e.field)
        for attr in ("subs", "sub"):
            v = getattr(e, attr, None)
            if v is None:
                continue
            if isinstance(v, (list, tuple)):
                for x in v:
                    walk_mask(x)
            else:
                walk_mask(v)

    def walk_ft(ft):
        if isinstance(ft, prog.SingleStepFT):
            walk(ft.surface)
        elif isinstance(ft, prog.ConcatFT):
            for c in ft.clauses:
                walk_ft(c)
        elif isinstance(ft, prog.RepeatFT):
            walk_ft(ft.sub)

    def walk(p):
        nonlocal graph
        if p is None:
            return
        if isinstance(p, prog.PToken):
            walk_mask(p.expr)
        elif isinstance(p, prog.PEvent):
            graph = True
            walk(p.trigger)
            for a in list(p.required) + list(p.optional):
                walk_ft(a.full_traversal)
        elif isinstance(p, prog.PGraphTraversal):
            graph = True
            walk(p.src)
            walk_ft(p.full_traversal)
        else:
            for attr in ("sub", "main", "filter"):
                v = getattr(p, attr, None)
                if isinstance(v, prog.Prog):
                    walk(v)
            for c in getattr(p, "clauses", ()) or ():
                walk(c)

    for p in programs:
        walk(p)
    return fields, graph or bool(fields & {"incoming", "outgoing"})


def batch_from_pandas(
    pdf: pd.DataFrame, extra_token_fields: Sequence[str] = ()
) -> Tuple[SentenceBatch, list, list]:
    """Arrow batch → SentenceBatch with no per-row Python conversion: token
    layers stay as the numpy object arrays Arrow produced, and the edge
    columns (selected only when the grammar reads the graph) pass as they
    are for SentenceBatch to build its graph from."""
    layers = {}
    for name in (*_LAYER_NAMES, *extra_token_fields):
        if name in pdf.columns and name not in layers:
            layers[name] = pdf[name].to_numpy()
    edges = None
    if "deps_src" in pdf.columns:
        edges = tuple(pdf[c].to_numpy() for c in EDGE_COLUMNS)
    batch = SentenceBatch(layers=layers, num_tokens=pdf["num_tokens"].to_numpy(), edges=edges)
    return batch, list(pdf["doc_id"]), pdf["sent_id"].to_numpy().tolist()


_MENTION_COLS = [f.name for f in MENTIONS_SCHEMA.fields]


def _mention_frame(mentions, idx_by_key, raws, shas, EventMatch) -> pd.DataFrame:
    """Mentions → pandas frame, built column-wise (dict-of-lists): one
    DataFrame construction per batch instead of one dict per mention row."""
    c_doc, c_sent, c_sha, c_label, c_found, c_start, c_end, c_text = (
        [], [], [], [], [], [], [], [],
    )
    c_isev, c_tstart, c_tend, c_caps = [], [], [], []
    for m in mentions:
        i = idx_by_key[(m.doc_id, m.sent_id)]
        toks = raws[i]
        is_event = isinstance(m.match, EventMatch)
        c_caps.append(
            [
                {
                    "name": c.name,
                    "label": c.label,
                    "start": c.match.start,
                    "end": c.match.end,
                    "text": " ".join(toks[c.match.start : c.match.end]),
                }
                for c in (m.match.captures if is_event else m.match.named_captures())
            ]
        )
        c_doc.append(m.doc_id)
        c_sent.append(m.sent_id)
        c_sha.append(shas[i])
        c_label.append(m.label)
        c_found.append(m.found_by)
        c_start.append(m.start)
        c_end.append(m.end)
        c_text.append(" ".join(toks[m.start : m.end]))
        c_isev.append(is_event)
        c_tstart.append(m.match.trigger.start if is_event else None)
        c_tend.append(m.match.trigger.end if is_event else None)
    if not c_doc:
        # empty dict-of-lists would infer float64 columns, which Arrow can't
        # cast to list<struct>; the empty-constructor keeps object dtype
        return pd.DataFrame(columns=_MENTION_COLS)
    return pd.DataFrame(
        {
            "doc_id": c_doc,
            "sent_id": c_sent,
            "content_sha": c_sha,
            "label": c_label,
            "found_by": c_found,
            "start": c_start,
            "end": c_end,
            "text": c_text,
            "is_event": c_isev,
            "trigger_start": c_tstart,
            "trigger_end": c_tend,
            "captures": c_caps,
        },
        columns=_MENTION_COLS,
    )


def required_columns(
    extractors: Sequence[Extractor], extra_token_fields: Sequence[str] = ()
) -> List[str]:
    fields, needs_edges = _grammar_reads([e.program for e in extractors])
    fields &= set(_LAYER_NAMES) | set(extra_token_fields)
    cols = ["doc_id", "sent_id", "content_sha", "num_tokens", "raw"]
    cols += sorted(fields - {"raw"})
    if "norm" not in cols:
        cols.append("norm")
    # the default field is a synonym union: norm (from word) + norm_alt
    # (from raw, only where it differs)
    if "norm" in cols and "norm_alt" not in cols:
        cols.append("norm_alt")
    if needs_edges:
        cols += EDGE_COLUMNS
    return cols


def extract_mentions_df(
    sentences: DataFrame,
    extractors: Sequence[Extractor],
    use_state: bool = False,
    extra_token_fields: Sequence[str] = (),
) -> DataFrame:
    """Run the grammar; one matcher pass per Arrow batch, no shuffle.

    ``use_state=False`` runs the single-pass no-state path; ``use_state=True``
    runs the full priority cascade *within each batch* (sentence-local state
    is exact because reference state lookups are keyed by (doc, sentence) —
    StateQuery.scala:14-142 reads mentions of the same sentence only).

    ``extra_token_fields``: user-configured token layers beyond the built-in
    set (reference ``allTokenFields``, reference.conf:46-57) — each must be a
    position-aligned array<string> column on ``sentences``."""
    extra_token_fields = tuple(extra_token_fields)
    cols = [
        c for c in required_columns(extractors, extra_token_fields) if c in sentences.columns
    ]
    sentences = sentences.select(*cols)
    spark = sentences.sparkSession
    bc = spark.sparkContext.broadcast(list(extractors))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        extrs = bc.value
        runner = BatchExtractor(extrs)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            batch, doc_ids, sent_ids = batch_from_pandas(pdf, extra_token_fields)
            raws = batch.raw_layers.get("raw")
            if raws is None:
                raws = batch.raw_layers.get("word")
            if use_state:
                mentions = runner.extract_mentions(batch, doc_ids, sent_ids)
            else:
                mentions = runner.extract_no_state(batch, doc_ids, sent_ids)
            shas = list(pdf["content_sha"]) if "content_sha" in pdf.columns else [None] * len(pdf)
            idx_by_key = {(doc_ids[i], sent_ids[i]): i for i in range(len(doc_ids))}
            from ..match.matches import EventMatch

            yield _mention_frame(mentions, idx_by_key, raws, shas, EventMatch)

    return sentences.mapInPandas(fn, MENTIONS_SCHEMA)


# ---------------------------------------------------------------------------
# stage 4: triples (pure DataFrame ops — no Python)
# ---------------------------------------------------------------------------

DEFAULT_SUBJ_ROLES = ("subject", "subj", "agent", "cause", "hypernym", "src", "caller")
DEFAULT_OBJ_ROLES = ("object", "obj", "patient", "theme", "effect", "hyponym", "dst", "callee")


def triples_from_mentions(
    mentions: DataFrame,
    subj_roles: Sequence[str] = DEFAULT_SUBJ_ROLES,
    obj_roles: Sequence[str] = DEFAULT_OBJ_ROLES,
) -> DataFrame:
    """(subj, pred, obj) rows from mention captures, entirely in Catalyst.

    Role resolution: captures whose name is a known subject/object role pair
    up; otherwise the first two captures (pattern order) form the triple."""
    m = mentions.filter(F.size("captures") >= 2)
    subj_arr = F.filter("captures", lambda c: c["name"].isin(*subj_roles))
    obj_arr = F.filter("captures", lambda c: c["name"].isin(*obj_roles))
    has_roles = (F.size(subj_arr) > 0) & (F.size(obj_arr) > 0)
    subj_arr = F.when(has_roles, subj_arr).otherwise(F.slice("captures", 1, 1))
    obj_arr = F.when(has_roles, obj_arr).otherwise(F.slice("captures", 2, 1))
    # for events the mention span IS the trigger span (EventMatch start/end
    # delegate to the trigger), so `text` is the trigger text
    pred = F.coalesce(
        F.col("label"),
        F.when(F.col("is_event"), F.col("text")),
        F.col("found_by"),
    )
    exploded = (
        m.withColumn("_subj", F.explode(subj_arr))
        .withColumn("_obj", F.explode(obj_arr))
        .filter(F.col("_subj") != F.col("_obj"))
    )
    return exploded.select(
        "doc_id",
        "sent_id",
        "content_sha",
        F.col("found_by").alias("rule"),
        "label",
        F.col("_subj.name").alias("subj_role"),
        F.col("_subj.start").alias("subj_start"),
        F.col("_subj.end").alias("subj_end"),
        F.col("_subj.text").alias("subj_text"),
        pred.alias("pred"),
        F.col("_obj.name").alias("obj_role"),
        F.col("_obj.start").alias("obj_start"),
        F.col("_obj.end").alias("obj_end"),
        F.col("_obj.text").alias("obj_text"),
    )
