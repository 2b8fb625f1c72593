"""Reference-format annotated-document JSON source.

Reads documents in the reference's native JSON shape
(OdinsonDocument.scala:13-126 — ``{"id", "metadata": [Field…],
"sentences": [{"numTokens", "fields": [TokensField|GraphField…]}]}``,
as JSON lines, one Document per line) straight into the sentence table,
so an existing corpus indexes here unchanged. Every sentence becomes a row
through :func:`sentence_row`, the one normalizer of reference-style
sentences (``odinson_spark.testing`` builds its batches with it too).

Metadata fields (String/Date/Number/Nested — OdinsonDocument.scala:137-199)
become typed ``meta_*`` columns; nested fields become arrays of structs and
are filtered with ``exists()`` lambda predicates instead of Lucene
block-joins.
"""

from __future__ import annotations

import json
from typing import Dict, Iterator, List, Optional

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from ..pipeline.extract import _sentences_frame
from ..errors import OdinsonException
from ..schema import GRAPH_COLUMNS, graph_columns
from ..lang.normalize import (
    normalize_unicode,
    normalize_unicode_aggressively,
    sanitize_token,
)


def _token(t: str) -> str:
    return sanitize_token(normalize_unicode(t))


def sentence_row(sent: dict, extra_token_fields=()) -> dict:
    """One reference-style sentence (``{layer: tokens}`` plus the graph
    columns) → a sentence-table row, all but the document columns.

    Every layer is aligned to ``raw`` (``word`` when ``raw`` is absent),
    which sets ``num_tokens``: a ``word`` of another length falls back to
    ``raw``, an absent or misaligned ``lemma``/``tag``/``chunk``/``entity``
    becomes ``""`` tokens, and such an extra layer becomes None. ``norm`` is
    always derived here (OdinsonIndexWriter.scala:174-182)."""
    raw = [_token(t) for t in sent.get("raw") or sent.get("word") or ()]
    n = len(raw)

    def aligned(name, fn=None):
        v = sent.get(name)
        if not v or len(v) != n:
            return None
        return [fn(t) for t in v] if fn else list(v)

    word = aligned("word", _token) or raw
    norm = [normalize_unicode_aggressively(t) for t in word]
    # synonym union: when the raw variant normalizes differently from word
    # (NLP pipelines may emit corrected word forms), index BOTH at the same
    # position
    norm_alt = [normalize_unicode_aggressively(t) for t in raw]
    row = {
        "raw": raw,
        "word": word,
        "norm": norm,
        "norm_alt": None if norm_alt == norm else norm_alt,
        "lemma": aligned("lemma", normalize_unicode) or [""] * n,
        "tag": aligned("tag", normalize_unicode) or [""] * n,
        "chunk": aligned("chunk") or [""] * n,
        "entity": aligned("entity") or [""] * n,
        **{c: sent.get(c, []) for c in GRAPH_COLUMNS},
    }
    for name in extra_token_fields:
        row[name] = aligned(name, normalize_unicode)
    return row


def doc_to_sentences(
    doc: dict, max_tokens: int = 100, extra_token_fields=()
) -> List[dict]:
    """One reference-format Document dict → sentence-table rows
    (:func:`sentence_row`) numbered by ``sent_id``.

    ``extra_token_fields``: user-configured token layers beyond the built-in
    eight (reference ``allTokenFields``, reference.conf:46-57 /
    TestFields.scala:42-94) — kept as position-aligned token lists."""
    out = []
    for s in doc.get("sentences", []):
        sent: Dict[str, object] = {}
        for f in s.get("fields", []):
            ftype = f.get("$type", "")
            if ftype.endswith("TokensField"):
                sent[f.get("name")] = f.get("tokens")
            elif ftype.endswith("GraphField"):
                sent.update(graph_columns(f.get("edges"), f.get("roots")))
        raw = sent.get("raw") or sent.get("word")
        if not raw or len(raw) > max_tokens:
            # over-long sentences are dropped at index time, like the
            # reference (OdinsonIndexWriter.scala:116-120)
            continue
        out.append({"sent_id": len(out), **sentence_row(sent, extra_token_fields)})
    return out


def _parse_line(line: str) -> dict:
    try:
        return json.loads(line)
    except ValueError as e:
        raise OdinsonException(
            "the Document JSON source expects one Document per line (JSON "
            f"lines); cannot parse {line[:80]!r}: {e}"
        ) from None


def _meta_values(meta_list):
    """Reference metadata fields (OdinsonDocument.scala:137-199) → a
    canonical JSON-able dict + a field→kind map. TokensField values are
    joined with single spaces (the reference compares text metadata as
    token phrases; the joined form plus token-boundary matching reproduces
    that); NestedFields accumulate into a list of objects so repeated names
    (several authors) become one array column queried with exists().

    Conflicting kinds for one name (scalar in one doc/field, nested in
    another) resolve deterministically: first kind wins, later conflicting
    values are dropped."""
    vals: Dict[str, object] = {}
    kinds: Dict[str, str] = {}
    for f in meta_list or []:
        t = f.get("$type", "")
        name = f.get("name")
        if not name:
            continue
        if t.endswith("NestedField"):
            kind, value = "nested", None
        elif t.endswith("TokensField"):
            kind, value = "tokens", " ".join(f.get("tokens") or [])
        elif t.endswith("StringField"):
            kind, value = "string", str(f.get("string", ""))
        elif t.endswith("NumberField"):
            kind, value = "number", float(f.get("value", 0.0))
        elif t.endswith("DateField"):
            kind, value = "date", str(f.get("date"))
        else:
            continue
        prev = kinds.get(name)
        if prev is not None and prev != kind:
            # deterministic conflict resolution: lexicographically smallest
            # kind wins — the SAME rule _infer_metadata applies across
            # documents, so a cross-doc conflict can't end up typing a column
            # for one kind while a doc carries the other kind's value
            if kind >= prev:
                continue
            vals.pop(name, None)
        kinds[name] = kind
        if kind == "nested":
            inner, _ = _meta_values(f.get("fields"))
            vals.setdefault(name, []).append(inner)
        else:
            vals[name] = value
    return vals, kinds


def _sentences_meta_schema(extra_token_fields=()):
    from pyspark.sql.types import StringType, StructField, StructType

    from ..schema import sentences_schema

    return StructType(
        list(sentences_schema(extra_token_fields).fields)
        + [StructField("meta_json", StringType()), StructField("meta_kinds_json", StringType())]
    )


def _infer_metadata(spark: SparkSession, lines: DataFrame):
    """(union metadata schema, field→kind dict) from the raw JSON lines.

    Deliberately a *metadata-only* pass: each line is parsed but sentences
    are never expanded or normalized, so the inference jobs cost a fraction
    of the ingest proper (the sentence fields dominate every real document).

    Everything stays distributed: the union schema comes from
    ``spark.read.json`` over the metadata-value strings (Spark's own
    distributed inference — never collected, because the strings carry
    metadata VALUES, which are as numerous as the documents), and the kind
    map is reduced to the distinct (name, kind) pairs — genuinely tiny —
    before the only collect."""
    from pyspark.sql import functions as F

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mjs, mks = [], []
            for line in pdf["value"]:
                line = (line or "").strip()
                if not line:
                    continue
                vals, kinds = _meta_values(_parse_line(line).get("metadata"))
                mjs.append(json.dumps(vals))
                mks.append(json.dumps(kinds))
            yield pd.DataFrame({"meta_json": mjs, "meta_kinds_json": mks})

    meta = lines.mapInPandas(fn, "meta_json string, meta_kinds_json string").persist()
    try:
        # deterministic cross-document kind resolution: lexicographically
        # smallest kind wins on conflict — the same rule _meta_values applies
        # within a document (first-kind-wins has no stable order across
        # partitions)
        kind_rows = (
            meta.select(
                F.explode(
                    F.from_json("meta_kinds_json", "map<string,string>")
                ).alias("name", "kind")
            )
            .groupBy("name")
            .agg(F.min("kind").alias("kind"))
            .collect()
        )
        if not kind_rows and meta.isEmpty():
            return None, {}
        kinds: Dict[str, str] = {r["name"]: r["kind"] for r in kind_rows}
        meta_schema = spark.read.json(
            meta.select(F.coalesce("meta_json", F.lit("{}")).alias("value"))
            .rdd.map(lambda r: r[0])
        ).schema
    finally:
        meta.unpersist()
    return meta_schema, kinds


def read_document_json(
    spark: SparkSession,
    path: str,
    max_tokens: int = 100,
    expand_metadata: bool = True,
    extra_token_fields=(),
    meta_schema=None,
    meta_kinds: Optional[Dict[str, str]] = None,
) -> DataFrame:
    """Path of JSON-lines files (one Document per line) → sentences DF. A
    line that is not one whole JSON document (say, a pretty-printed file)
    fails the job with an ``OdinsonException`` that quotes the line.

    With ``expand_metadata`` (default), document metadata fields become typed
    ``meta_*`` columns (tokens → string, number → double, date → date,
    nested → array<struct>) replicated on every sentence row of the doc, so
    the metadata query language filters them scan-side. Pass ``meta_schema``
    + ``meta_kinds`` explicitly to skip the inference pass entirely.

    ``extra_token_fields``: user-configured token layers beyond the built-in
    eight (reference ``allTokenFields``) — one array<string> column each."""
    lines = spark.read.text(path)
    extra_token_fields = tuple(extra_token_fields)
    out_schema = _sentences_meta_schema(extra_token_fields)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            docs, mjs, mks = [], [], []
            for line in pdf["value"]:
                line = (line or "").strip()
                if not line:
                    continue
                doc = _parse_line(line)
                sentences = doc_to_sentences(doc, max_tokens, extra_token_fields)
                sha = hashlib.sha256(line.encode("utf-8")).hexdigest()
                vals, kinds = _meta_values(doc.get("metadata"))
                docs.append((str(doc.get("id")), sha, None, sentences))
                mjs += [json.dumps(vals)] * len(sentences)
                mks += [json.dumps(kinds)] * len(sentences)
            yield _sentences_frame(docs, extra_token_fields).assign(
                meta_json=mjs, meta_kinds_json=mks
            )

    df = lines.mapInPandas(fn, out_schema)
    if not expand_metadata:
        return df.drop("meta_json", "meta_kinds_json")
    from pyspark.sql import functions as F

    if meta_schema is None:
        meta_schema, inferred_kinds = _infer_metadata(spark, lines)
        if meta_kinds is None:
            meta_kinds = inferred_kinds
    elif meta_kinds is None:
        import warnings

        warnings.warn(
            "meta_schema was given without meta_kinds: DateField-backed "
            "meta_* columns will come back as strings, typed differently "
            "from the inferred path — pass meta_kinds (e.g. "
            "{'pubdate': 'date'}) to keep typed columns",
            RuntimeWarning,
        )
    kinds = meta_kinds or {}
    fields = (
        []
        if meta_schema is None
        else [f.name for f in meta_schema.fields if not f.name.startswith("_corrupt")]
    )
    if fields:
        m = F.from_json("meta_json", meta_schema)
        for name in fields:
            col = m[name]
            if kinds.get(name) == "date":
                col = F.to_date(col)
            df = df.withColumn(f"meta_{name}", col)
    return df.drop("meta_json", "meta_kinds_json")


# ---------------------------------------------------------------------------
# mention sink: JSON lines at three verbosity levels
# (reference serialization/JsonSerializer.scala:8-55, DataGatherer.scala:95-107)
# ---------------------------------------------------------------------------

VERBOSITY_COLUMNS = {
    "minimal": ["doc_id", "sent_id", "found_by", "start", "end"],
    "display": ["doc_id", "sent_id", "label", "found_by", "start", "end", "text"],
    "all": [
        "doc_id",
        "sent_id",
        "content_sha",
        "label",
        "found_by",
        "start",
        "end",
        "text",
        "is_event",
        "trigger_start",
        "trigger_end",
        "captures",
    ],
}


def write_mentions_json(mentions: DataFrame, path: str, verbosity: str = "display"):
    cols = VERBOSITY_COLUMNS[verbosity]
    mentions.select(*[c for c in cols if c in mentions.columns]).write.mode(
        "overwrite"
    ).json(path)
