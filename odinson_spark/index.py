"""Materialized term-posting index: the Spark-native analogue of the
reference's on-disk Lucene index.

The scan-path engine (search.py) evaluates the sentence-level prefilter
JVM-side, but an ``array_contains`` predicate cannot reach parquet footer
stats, so every row group of the token-layer columns is still read. That is
the right shape for one-shot batch extraction; it is the wrong shape for the
reference's primary UX — *interactive* queries against a prebuilt index
(ExtractorEngine over lucene/index/OdinsonIndexWriter.scala:113-205, where
postings let a query visit only documents containing its required terms).

This module materializes that access path with Spark primitives:

* **sentences/** — the annotated-sentence table written
  ``partitionBy(doc_bucket)`` (deterministic ``crc32(doc_id) % N``), so a
  candidate-key join prunes whole directories via dynamic partition pruning
  instead of scanning the corpus.
* **postings/** — one row per distinct (sentence, token-layer field, term)
  with the term's token positions (null only for the sentence-level
  ``*_flat`` label sets), written ``partitionBy(tbucket)``
  (``crc32(term) % M``) and sorted by (field, term) within files: a term
  lookup touches exactly one partition directory, and parquet min/max stats
  on the sorted ``term`` column skip all but the matching row groups — the
  Spark rendering of a postings seek.
* **stats/** — per-(field, term) document frequency, bucketed like the
  postings: the term dictionary and the cost model's input.

``odinson_index_meta.json`` pins each table's schema. ``TermIndex.read``
opens only the format ``TermIndex.build`` writes and raises
``OdinsonException`` for any other directory.

Query execution composes the existing prefilter algebra
(plans/prefilter.py): each required literal term becomes a pruned postings
lookup; AND = key intersection, OR = key union (None = unconstrained — the
lookup degrades to the scan path, never drops a sentence). The candidate
keys are leftsemi-joined (including ``doc_bucket``) against the partitioned
sentence table, then the normal boolean prefilter + NFA matcher run
unchanged, so index-path results are identical to scan-path results
(asserted by tests/test_index.py and the idx_term/idx_conj gates).

Regex and fuzzy leaves are rewritten against the term dictionary (the stats
table) before the postings lookup — Lucene's MultiTermQuery rewrite — with a
``max_expansions`` cap past which the scan plan is used instead
(``_expand_multi_term``). Truly unconstrained patterns (pure wildcards) fall
back to the full scan explicitly.

At 100 TB: the postings table is ~tokens-distinct-per-sentence rows, one
shuffle to bucket it at build time; a selective interactive query then reads
a handful of postings row groups + only the sentence partitions containing
candidates, instead of the full corpus.
"""

from __future__ import annotations

import json
import os
import zlib
from typing import Optional, Sequence

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .errors import OdinsonException
from .plans import prefilter as pf
from .pipeline.extract import apply_prefilter
from .search import SearchEngine

# token-layer columns worth inverting: everything the prefilter can render
# (plans/prefilter.py _FIELD_TO_COLUMN maps incoming/outgoing to the flat
# label-set columns)
DEFAULT_INDEXED_COLUMNS = (
    "raw",
    "word",
    "norm",
    "norm_alt",
    "lemma",
    "tag",
    "chunk",
    "entity",
    "incoming_flat",
    "outgoing_flat",
)

_META_FILE = "odinson_index_meta.json"
_TABLES = ("sentences", "postings", "stats")
_META_KEYS = (
    "n_term_buckets",
    "n_doc_buckets",
    "indexed_columns",
    "schemas",
    "next_gen",
    "n_sentences",
)


def _bucket(col, n: int):
    return F.pmod(F.crc32(col.cast("string")), F.lit(n)).cast("int")


def _shift_by(off: int):
    """One-arg transform callback factory (a two-arg lambda would have its
    second parameter bound to the element index by F.transform)."""
    return lambda x: x - F.lit(off)


_REGEX_META = set(".^$*+?()[]{}|\\")
_REGEX_QUANT = set("*+?{")


def _has_alternation(pattern: str) -> bool:
    """True when the pattern contains an unescaped ``|`` outside a
    character class — the only kind that can bypass a literal prefix."""
    in_class = False
    i = 0
    while i < len(pattern):
        c = pattern[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
        elif c == "[":
            in_class = True
        elif c == "|":
            return True
        i += 1
    return False


def _literal_prefix(pattern: str) -> str:
    """Longest literal prefix of a regex — a NECESSARY ``startswith`` for
    any fullmatch, used to prune the term dictionary JVM-side before the
    exact Python predicate runs (Lucene's PrefixQuery-shaped terms-enum
    seek). A literal whose NEXT char is a quantifier is excluded (it may
    match zero times); any metacharacter ends the prefix. An ALTERNATION
    voids the prefix: in ``ab|cd`` the branch ``cd`` fullmatches without
    the ``ab`` prefix, so no startswith is necessary. Only a real
    alternation counts — ``\\|`` and ``[c|d]`` are literal pipes (a ``|``
    inside a group after the prefix would also be safe, but telling group
    depth apart needs a parser; unescaped-outside-class is the cheap sound
    line)."""
    if _has_alternation(pattern):
        return ""
    out = []
    i = 0
    while i < len(pattern):
        c = pattern[i]
        if c in _REGEX_META:
            break
        if i + 1 < len(pattern) and pattern[i + 1] in _REGEX_QUANT:
            break
        out.append(c)
        i += 1
    return "".join(out)


def _postings_of(with_bucket: DataFrame, cols: Sequence[str], n_term_buckets: int) -> DataFrame:
    """One scan → one row per distinct (field, term) per sentence, carrying
    the term's token POSITIONS for single-valued layers (Lucene stores
    positions in its postings for exactly this purpose — SpanNearQuery).
    Flat sentence-level label sets (incoming_flat/outgoing_flat) post with
    null positions: they prune existence, not adjacency.

    Arrow-batched mapInPandas, the repo's fan-out pattern: interpreted HOFs
    can't build position lists, and this is the build path where per-row
    work is O(tokens) — scan-dominated either way."""
    from pyspark.sql import types as T

    flat = {c for c in cols if c.endswith("_flat")}
    src = with_bucket.select("doc_bucket", "doc_id", "sent_id", *cols)
    schema = T.StructType(
        [
            T.StructField("field", T.StringType()),
            T.StructField("term", T.StringType()),
            src.schema["doc_bucket"],
            src.schema["doc_id"],
            src.schema["sent_id"],
            T.StructField("positions", T.ArrayType(T.IntegerType())),
        ]
    )
    col_list = list(cols)

    def fn(batches):
        for pdf in batches:
            out = {k: [] for k in ("field", "term", "doc_bucket", "doc_id", "sent_id", "positions")}
            for db, did, sid, *layers in zip(
                pdf["doc_bucket"], pdf["doc_id"], pdf["sent_id"], *[pdf[c] for c in col_list]
            ):
                for c, arr in zip(col_list, layers):
                    if arr is None:
                        continue
                    if c in flat:
                        for t_ in set(arr):
                            if t_ is None:
                                continue
                            out["field"].append(c)
                            out["term"].append(t_)
                            out["doc_bucket"].append(db)
                            out["doc_id"].append(did)
                            out["sent_id"].append(sid)
                            out["positions"].append(None)
                    else:
                        by_term: dict = {}
                        for pos, v in enumerate(arr):
                            if v is None:
                                continue
                            by_term.setdefault(v, []).append(pos)
                        for t_, ps in by_term.items():
                            out["field"].append(c)
                            out["term"].append(t_)
                            out["doc_bucket"].append(db)
                            out["doc_id"].append(did)
                            out["sent_id"].append(sid)
                            out["positions"].append(ps)
            yield pd.DataFrame(out)

    return src.mapInPandas(fn, schema).withColumn(
        "tbucket", _bucket(F.col("term"), n_term_buckets)
    )


def _postings_of_sql(src: DataFrame, cols: Sequence[str], n_term_buckets: int) -> DataFrame:
    """Pure-JVM postings builder — identical rows to :func:`_postings_of`
    (asserted in tests/test_index.py), no Python boundary.

    One fused pass: every layer's tokens become (field, term, pos) structs
    via ``transform`` (pos = array index for positional layers, null for
    flat label sets), one ``explode`` flattens them, and a single
    ``groupBy`` assembles ascending position lists with
    ``sort_array(collect_list(pos))`` — aggregation, not an interpreted
    per-row loop, so the build-side hot path stays in the JVM. A/B'd
    against the mapInPandas route (BENCH.md 'postings builder A/B'); the
    Python route is kept for the equality test."""
    flat = {c for c in cols if c.endswith("_flat")}

    # factories, not default-arg lambdas: pyspark counts a lambda's
    # parameters (defaults included) to pick the unary/binary HOF form
    # nullif with an impossible sentinel: same constant, but typed nullable
    # (Spark 4's analyzer folds an else-less when(true, lit) back to a
    # non-nullable literal) — keeps the output schema json byte-identical
    # to the mapInPandas route's (meta pins it)
    def _field_lit(name):
        return F.nullif(F.lit(name), F.lit("\x00"))

    def _flat_struct(name):
        return lambda x: F.struct(
            _field_lit(name).alias("field"),
            x.alias("term"),
            F.lit(None).cast("int").alias("pos"),
        )

    def _pos_struct(name):
        return lambda x, i: F.struct(
            _field_lit(name).alias("field"),
            x.alias("term"),
            i.cast("int").alias("pos"),
        )

    parts = []
    for c in cols:
        col = F.coalesce(F.col(c), F.array().cast(src.schema[c].dataType))
        parts.append(F.transform(col, _flat_struct(c) if c in flat else _pos_struct(c)))
    ex = src.select(
        "doc_bucket", "doc_id", "sent_id", F.explode(F.concat(*parts)).alias("e")
    ).filter(F.col("e.term").isNotNull())
    grouped = (
        ex.groupBy(
            F.col("e.field").alias("field"),
            F.col("e.term").alias("term"),
            "doc_bucket",
            "doc_id",
            "sent_id",
        )
        .agg(
            F.when(F.count("e.pos") > 0, F.sort_array(F.collect_list("e.pos")))
            .otherwise(F.lit(None).cast("array<int>"))
            .alias("positions")
        )
    )
    # .to(): align nullability with the mapInPandas route's declared schema —
    # meta pins postings.schema at build time, so the two routes must write
    # byte-identical schema json
    from pyspark.sql import types as T

    target = T.StructType(
        [
            T.StructField("field", T.StringType()),
            T.StructField("term", T.StringType()),
            src.schema["doc_bucket"],
            src.schema["doc_id"],
            src.schema["sent_id"],
            T.StructField("positions", T.ArrayType(T.IntegerType())),
        ]
    )
    return (
        grouped.select("field", "term", "doc_bucket", "doc_id", "sent_id", "positions")
        .to(target)
        .withColumn("tbucket", _bucket(F.col("term"), n_term_buckets))
    )


def _check_format(path: str, meta: dict) -> None:
    """Raise unless ``meta`` describes the format :meth:`TermIndex.build`
    writes: every meta key, a pinned schema per table, and positional
    postings (the phrase filter and the synonym position union rely on
    them)."""
    from pyspark.sql.types import StructType

    missing = [k for k in _META_KEYS if k not in meta]
    if not missing:
        missing = [f"schemas.{t}" for t in _TABLES if t not in meta["schemas"]]
    if missing:
        problem = "meta lacks " + ", ".join(missing)
    else:
        postings = StructType.fromJson(json.loads(meta["schemas"]["postings"]))
        if "positions" in postings.fieldNames():
            return
        problem = "postings carry no positions"
    raise OdinsonException(
        f"{path} is not a TermIndex in the current format ({problem}); "
        "rebuild it with TermIndex.build"
    )


class TermIndex:
    """A written (sentences, postings) pair plus its meta."""

    def __init__(self, spark: SparkSession, path: str, meta: dict):
        self.spark = spark
        self.path = path
        self.meta = meta
        self.n_term_buckets = int(meta["n_term_buckets"])
        self.n_doc_buckets = int(meta["n_doc_buckets"])
        self.indexed_columns = tuple(meta["indexed_columns"])
        self.n_sentences = meta["n_sentences"]
        self.sentences = self._read_table("sentences")
        self.postings = self._read_table("postings")
        self.stats = self._read_table("stats")
        # per-query-lifetime memo of multi-term expansions: the engine asks
        # for the estimate and then the keys of the same leaf
        self._mt_cache: dict = {}
        self._df_cache: dict = {}

    def _read_table(self, sub: str) -> DataFrame:
        """Open one of the index tables with the schema pinned in the meta
        file at build time, so a table that is currently EMPTY — an index
        compacted down to zero documents, or built from an empty corpus —
        still opens (parquet schema inference has no footer to read
        there)."""
        from pyspark.sql.types import StructType

        p = os.path.join(self.path, sub)
        # crash recovery: compact() renames the current table aside before
        # moving the rebuilt one in; an interruption in that window leaves
        # only <table>.compacting — restore it so the index stays readable
        bak = p + ".compacting"
        if not os.path.isdir(p) and os.path.isdir(bak):
            import shutil

            shutil.move(bak, p)
        sch = StructType.fromJson(json.loads(self.meta["schemas"][sub]))
        return self.spark.read.schema(sch).parquet(p)

    # -- build --------------------------------------------------------------

    @staticmethod
    def build(
        sentences: DataFrame,
        path: str,
        n_term_buckets: int = 64,
        n_doc_buckets: Optional[int] = None,
        indexed_columns: Sequence[str] = DEFAULT_INDEXED_COLUMNS,
    ) -> "TermIndex":
        cols = [c for c in indexed_columns if c in sentences.columns]
        n_rows = sentences.count()
        if n_doc_buckets is None:
            # Derived, not fixed: dynamic partition pruning is BUCKET-
            # granular, and uniformly-hashed candidate docs touch ~min(k,
            # n_buckets) buckets — k selective matches admit ~k/n_buckets of
            # the corpus. Too few buckets neuters pruning (measured: 20
            # candidates × 32 buckets admitted 62.5% of a 5M-row corpus);
            # too many makes kilobyte files at small scale. ~5k sentences
            # per bucket keeps both ends sane from test corpora to 100 TB
            # (where the 65536 cap ≈ listing cost, and row groups inside a
            # bucket still skip on the sorted term column).
            n_doc_buckets = max(8, min(65536, n_rows // 5000 or 8))
        # gen = write generation (Lucene's sequence number): lets a delete
        # tombstone doc versions written BEFORE it without hiding a later
        # re-add of the same doc_id (see delete_documents/live_sentences).
        # A fresh index starts at 0; compact() passes rows already stamped
        # with the generation they are rewritten at
        gen = F.col("gen") if "gen" in sentences.columns else F.lit(0)
        with_bucket = sentences.withColumn(
            "doc_bucket", _bucket(F.col("doc_id"), n_doc_buckets)
        ).withColumn("gen", gen.cast("long"))
        # repartition on the bucket first: partitionBy alone writes one file
        # per (task × bucket) — tasks × n_doc_buckets kilobyte files
        (
            with_bucket.repartition("doc_bucket")
            .write.mode("overwrite")
            .partitionBy("doc_bucket")
            .parquet(os.path.join(path, "sentences"))
        )

        spark = sentences.sparkSession
        # postings from the files just written, not the upstream plan: the
        # (possibly expensive) annotation pipeline ran once for the sentence
        # write; the postings pass re-reads columnar parquet instead of
        # re-executing it. The builder itself stays the Arrow-batched
        # mapInPandas route: the pure-JVM explode+groupBy alternative
        # (_postings_of_sql) was A/B'd at 50k docs and LOST 4-6× — 27M
        # per-token structs through interpreted transform + an
        # ObjectHashAggregate collect_list cost far more than a per-sentence
        # dict loop that emits already-grouped rows (BENCH.md 'postings
        # builder A/B').
        written_sentences = spark.read.schema(with_bucket.schema).parquet(
            os.path.join(path, "sentences")
        )
        postings = _postings_of(written_sentences, cols, n_term_buckets)
        (
            postings.repartition("tbucket")
            .sortWithinPartitions("field", "term")
            .write.mode("overwrite")
            .partitionBy("tbucket")
            .parquet(os.path.join(path, "postings"))
        )
        # per-(field, term) document frequency — Lucene's cost model input
        # (TermStates.docFreq drives its query planning): the engine skips
        # the candidate join for terms whose postings are a large corpus
        # fraction, where a scan is the cheaper plan. Small table (distinct
        # terms × fields), same tbucket pruning as the postings. Computed
        # from the files just written, not the upstream plan, so the
        # (possibly expensive) annotation pipeline doesn't re-run.
        # explicit schema: an empty corpus writes no part files, and a
        # schema-less read of an empty dir cannot infer one
        written = spark.read.schema(postings.schema).parquet(
            os.path.join(path, "postings")
        )
        stats = (
            written.groupBy("tbucket", "field", "term")
            .agg(F.count(F.lit(1)).alias("df"))
        )
        (
            stats.repartition("tbucket")
            .sortWithinPartitions("field", "term")
            .write.mode("overwrite")
            .partitionBy("tbucket")
            .parquet(os.path.join(path, "stats"))
        )

        meta = {
            "n_term_buckets": n_term_buckets,
            "n_doc_buckets": n_doc_buckets,
            "indexed_columns": cols,
            # pinned table schemas: keep the index openable when a table is
            # empty (zero-doc corpus, or compacted down to nothing)
            "schemas": {
                "sentences": with_bucket.schema.json(),
                "postings": postings.schema.json(),
                "stats": stats.schema.json(),
            },
            "next_gen": 1,
            "n_sentences": n_rows,
        }
        # driver-side metadata file, like a table format's own manifest
        with open(os.path.join(path, _META_FILE), "w") as f:
            json.dump(meta, f)
        return TermIndex(sentences.sparkSession, path, meta)

    @staticmethod
    def read(spark: SparkSession, path: str) -> "TermIndex":
        """Open an index written by :meth:`build`. A directory in any other
        format (no pinned schema for a table, or postings without
        positions) raises :class:`OdinsonException` instead of opening with
        partial pruning."""
        with open(os.path.join(path, _META_FILE)) as f:
            meta = json.load(f)
        _check_format(path, meta)
        return TermIndex(spark, path, meta)

    # -- incremental maintenance --------------------------------------------
    # The reference's live index supports add/delete/update/refresh
    # (lucene/index/IncrementalOdinsonIndex.scala:104-124,224 —
    # indexOdinsonDoc / deleteOdinsonDoc / updateOdinsonDoc / refresh).
    # Lucene's own delete is a tombstone bitmap purged on segment merge; the
    # Spark rendering is identical in shape: adds APPEND new parquet files
    # into the existing bucket directories (no rewrite — bucket assignment is
    # deterministic, so new postings land in the partitions queries already
    # prune to), deletes APPEND doc ids to a tombstone table that readers
    # anti-join (broadcast — tombstones are small between compactions), and
    # ``compact()`` is the segment merge: rewrite both tables minus
    # tombstones. At 100 TB an add touches only the new data (one shuffle to
    # bucket its postings) and a delete writes kilobytes; nothing rewrites
    # the corpus until an explicit compact.

    _TOMBSTONES = "tombstones"

    def _write_meta(self) -> None:
        with open(os.path.join(self.path, _META_FILE), "w") as f:
            json.dump(self.meta, f)

    def _tombstones(self) -> Optional[DataFrame]:
        p = os.path.join(self.path, self._TOMBSTONES)
        if not os.path.isdir(p) or not any(
            f.endswith(".parquet") for f in os.listdir(p)
        ):
            return None
        return self.spark.read.parquet(p)

    def live_sentences(self) -> DataFrame:
        """The sentence table minus tombstoned doc versions (what queries
        see). A tombstone (doc_id, cutoff) hides rows of that doc written
        before generation ``cutoff`` — a later re-add (higher gen) stays
        visible, matching Lucene's sequence-number delete semantics."""
        tomb = self._tombstones()
        if tomb is None:
            return self.sentences
        cutoffs = tomb.groupBy("doc_id").agg(F.max("cutoff").alias("cutoff"))
        return (
            self.sentences.join(F.broadcast(cutoffs), on="doc_id", how="left")
            .filter(F.col("cutoff").isNull() | (F.col("gen") >= F.col("cutoff")))
            .drop("cutoff")
        )

    def add_documents(self, sentences: DataFrame) -> None:
        """Append newly annotated sentences (same schema as ``build``'s
        input). New files land inside the existing doc_bucket / tbucket
        partition directories, so query-side pruning is unchanged."""
        gen = int(self.meta["next_gen"])
        cols = [c for c in self.indexed_columns if c in sentences.columns]
        # persist the batch: its lineage may include the (expensive)
        # annotation pipeline, and it feeds the sentence write, the postings
        # write, the stats aggregation, and the row count — an increment is
        # small by definition, so caching beats three plan re-executions
        with_bucket = sentences.withColumn(
            "doc_bucket", _bucket(F.col("doc_id"), self.n_doc_buckets)
        ).withColumn("gen", F.lit(gen).cast("long")).persist()
        postings = None
        try:
            (
                with_bucket.repartition("doc_bucket")
                .write.mode("append")
                .partitionBy("doc_bucket")
                .parquet(os.path.join(self.path, "sentences"))
            )
            postings = _postings_of(with_bucket, cols, self.n_term_buckets).persist()
            (
                postings.repartition("tbucket")
                .sortWithinPartitions("field", "term")
                .write.mode("append")
                .partitionBy("tbucket")
                .parquet(os.path.join(self.path, "postings"))
            )
            # stats for just the new batch; readers sum df across files
            inc_stats = (
                postings.groupBy("tbucket", "field", "term")
                .agg(F.count(F.lit(1)).alias("df"))
            )
            (
                inc_stats.repartition("tbucket")
                .sortWithinPartitions("field", "term")
                .write.mode("append")
                .partitionBy("tbucket")
                .parquet(os.path.join(self.path, "stats"))
            )
            self.meta["n_sentences"] = int(self.meta["n_sentences"]) + with_bucket.count()
            self.meta["next_gen"] = gen + 1
            self._write_meta()
        finally:
            with_bucket.unpersist()
            if postings is not None:
                postings.unpersist()
        self.refresh()

    def delete_documents(self, doc_ids: Sequence) -> None:
        """Tombstone documents (reference deleteOdinsonDoc). O(ids) write;
        the data files are untouched until ``compact()``. Only versions
        written before this call are hidden (cutoff = current generation)."""
        cutoff = int(self.meta["next_gen"])
        df = self.spark.createDataFrame(
            [(str(d), cutoff) for d in doc_ids], "doc_id string, cutoff long"
        )
        # match the sentence table's doc_id type so the join stays cast-free
        # (build() preserves whatever type the caller used)
        target_type = dict(self.sentences.dtypes)["doc_id"]
        df = df.select(F.col("doc_id").cast(target_type), "cutoff")
        df.write.mode("append").parquet(os.path.join(self.path, self._TOMBSTONES))
        # deletes advance the generation too, so a delete-then-re-add within
        # the same index lifetime lands at gen > cutoff
        self.meta["next_gen"] = cutoff + 1
        self._write_meta()

    def update_documents(self, sentences: DataFrame) -> None:
        """Reference updateOdinsonDoc: tombstone the old version, append the
        new one (which lands at a later generation, so it stays visible).

        The tombstones are written straight from the DataFrame — no driver
        collect, so a bulk re-annotation of 10^8 docs never ships ids
        through the driver."""
        cutoff = int(self.meta["next_gen"])
        target_type = dict(self.sentences.dtypes)["doc_id"]
        tomb = (
            sentences.select(F.col("doc_id").cast(target_type))
            .distinct()
            .withColumn("cutoff", F.lit(cutoff).cast("long"))
        )
        tomb.write.mode("append").parquet(os.path.join(self.path, self._TOMBSTONES))
        self.meta["next_gen"] = cutoff + 1
        self._write_meta()
        self.add_documents(sentences)

    def compact(self) -> None:
        """Purge tombstones by rewriting both tables (Lucene's segment
        merge). The only full rewrite in the lifecycle — run it when the
        tombstone fraction warrants reclaiming the space/filter cost."""
        import shutil
        import tempfile

        tomb = self._tombstones()
        if tomb is None:
            return
        # the rebuilt rows are stamped with the current generation, which is
        # at or above every tombstone cutoff: tombstones a crash leaves
        # behind (they are removed only after the swaps) cannot hide them
        gen = int(self.meta["next_gen"])
        live = self.live_sentences().withColumn("gen", F.lit(gen).cast("long"))
        tmp = tempfile.mkdtemp(dir=os.path.dirname(self.path) or ".")
        rebuilt = TermIndex.build(
            live.drop("doc_bucket"),
            os.path.join(tmp, "index"),
            n_term_buckets=self.n_term_buckets,
            n_doc_buckets=self.n_doc_buckets,
            indexed_columns=self.indexed_columns,
        )
        # advance the generation on disk before the first swap, so a delete
        # issued after a crash in the swaps still hides the rebuilt rows
        self.meta["next_gen"] = gen + 1
        self._write_meta()
        for sub in ("sentences", "postings", "stats"):
            old = os.path.join(self.path, sub)
            new = os.path.join(rebuilt.path, sub)
            bak = old + ".compacting"
            # crash-safe swap: the current table is renamed ASIDE (not
            # deleted) before the rebuilt one moves in; if interrupted
            # between the two moves, _read_table restores the .compacting
            # copy on the next open — either the old or the new table is
            # always recoverable
            shutil.rmtree(bak, ignore_errors=True)
            if os.path.isdir(old):
                shutil.move(old, bak)
            if os.path.isdir(new):
                shutil.move(new, old)
            shutil.rmtree(bak, ignore_errors=True)
        shutil.rmtree(os.path.join(self.path, self._TOMBSTONES), ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
        self.meta["n_sentences"] = rebuilt.meta["n_sentences"]
        self.meta["schemas"] = rebuilt.meta["schemas"]
        self._write_meta()
        self.refresh()

    def refresh(self) -> None:
        """Re-open the table readers so queries see appended files
        (reference refresh(): searcher manager re-open)."""
        self.sentences = self._read_table("sentences")
        self.postings = self._read_table("postings")
        self.stats = self._read_table("stats")
        self.n_sentences = self.meta["n_sentences"]
        # the term dictionary may have grown/shrunk: drop memoized expansions
        self._mt_cache = {}
        self._df_cache = {}

    # -- candidate generation ----------------------------------------------

    _KEYS = ["doc_bucket", "doc_id", "sent_id"]

    def _expand_multi_term(
        self, fields: Sequence[str], kind: str, value: str, max_expansions: int
    ):
        """Rewrite a regex/fuzzy leaf against the term dictionary — Lucene's
        MultiTermQuery rewrite (the terms-enum ∩ automaton walk behind the
        reference's RegexpQuery/FuzzyQuery). The stats table IS the term
        dictionary: one row per distinct (field, term), orders of magnitude
        smaller than the corpus.

        Returns (matched_terms, df_upper_bound), or None when the expansion
        exceeds ``max_expansions`` (the caller falls back to the scan plan,
        which is sound and — for a pattern matching that much of the
        vocabulary — usually also cheaper, the same reasoning as Lucene's
        rewrite-method clause limits).

        The predicate is the matcher's own (match/context.py _vocab_pred):
        Python ``re.fullmatch`` / edit-distance ≤ 2 over vocab entries, run
        Arrow-batched over the distributed stats table — never a Java-regex
        approximation, so index-path results stay bit-identical to the scan
        path. JVM-side necessary conditions (length window for fuzzy,
        literal-prefix for regex) prune the dictionary before Python sees it.
        """
        key = (tuple(fields), kind, value, max_expansions)
        cached = self._mt_cache.get(key, False)
        if cached is not False:
            return cached
        from pyspark.sql.functions import pandas_udf

        cand = self.stats.filter(F.col("field").isin(list(fields)))
        if kind == "fuzzy":
            # |len(t) - len(q)| <= 2 is necessary for edit distance <= 2
            n = len(value)
            cand = cand.filter(F.length("term").between(n - 2, n + 2))
            q = value

            @pandas_udf("boolean")
            def _pred(terms: pd.Series) -> pd.Series:
                # absolute import: the closure is shipped by value to
                # workers, where a relative import has no package context
                from odinson_spark.match.context import _edit_distance_le2

                return terms.map(
                    lambda t: t is not None and _edit_distance_le2(q, t)
                )

        elif kind == "regex":
            prefix = _literal_prefix(value)
            if prefix:
                cand = cand.filter(F.col("term").startswith(prefix))
            pat = value

            @pandas_udf("boolean")
            def _pred(terms: pd.Series) -> pd.Series:
                import re

                rx = re.compile(pat)
                return terms.map(
                    lambda t: t is not None and rx.fullmatch(t) is not None
                )

        else:  # pragma: no cover - parser emits only the two kinds
            raise ValueError(f"unknown multi-term kind {kind!r}")
        matched = (
            cand.filter(_pred(F.col("term")))
            # append() writes per-batch stats rows: same term, many rows
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
        )
        rows = matched.limit(max_expansions + 1).collect()
        out = None
        if len(rows) <= max_expansions:
            out = (
                [r["term"] for r in rows],
                int(sum(int(r["df"]) for r in rows)),
            )
        self._mt_cache[key] = out
        return out

    def _multi_term_fields(self, field: str) -> Optional[list]:
        col = pf._FIELD_TO_COLUMN.get(field, field)
        if col not in self.indexed_columns:
            return None
        fields = [col]
        if field == "norm" and "norm_alt" in self.indexed_columns:
            fields.append("norm_alt")
        return fields

    def _term_positions(self, fields: Sequence[str], term: str) -> DataFrame:
        """Pruned postings lookup keeping the position lists. The synonym
        union (norm ∪ norm_alt) merges per-key position lists, since a token
        matches the term through EITHER layer."""
        tb = zlib.crc32(term.encode()) % self.n_term_buckets
        df = self.postings.filter(
            (F.col("tbucket") == tb)
            & (F.col("term") == term)
            & F.col("field").isin(list(fields))
        )
        if len(fields) == 1:
            return df.select(*self._KEYS, "positions")
        return self._positions_union(df)

    def _positions_union(self, df: DataFrame) -> DataFrame:
        """Per-key union of position lists across posting rows (synonym
        fields, or the matched terms of a multi-term expansion). Positional
        layers never post null positions (only ``*_flat`` label sets do, and
        phrases never anchor on those)."""
        return df.groupBy(*self._KEYS).agg(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("positions"))))
            .alias("positions")
        )

    def _expanded_postings(self, fields: Sequence[str], terms: Sequence[str]) -> DataFrame:
        """Pruned postings rows for a multi-term expansion's matched terms:
        the matched terms' buckets are computable driver-side, so the lookup
        still prunes tbucket partition directories; the isin literals
        compile to an InSet, fully codegen."""
        tbs = sorted({zlib.crc32(t_.encode()) % self.n_term_buckets for t_ in terms})
        return self.postings.filter(
            F.col("tbucket").isin(tbs)
            & F.col("field").isin(list(fields))
            & F.col("term").isin(list(terms))
        )

    def _expanded_positions(self, fields: Sequence[str], terms: Sequence[str]) -> DataFrame:
        """Keyed position union over ALL matched terms of a multi-term
        expansion: a token satisfies the regex/fuzzy leaf wherever ANY
        matched term occurs."""
        df = self._expanded_postings(fields, terms)
        if len(fields) == 1 and len(terms) == 1:
            # rows are already key-unique (distinct (field, term, key) by
            # construction) — skip the union's groupBy shuffle
            return df.select(*self._KEYS, "positions")
        return self._positions_union(df)

    def _term_keys(self, fields: Sequence[str], term: str) -> DataFrame:
        """Pruned postings lookup: partition filter on tbucket + equality on
        (field, term) → row-group skipping on the sorted term column."""
        tb = zlib.crc32(term.encode()) % self.n_term_buckets
        cond = (F.col("tbucket") == tb) & (F.col("term") == term)
        out = None
        if len(fields) == 1:
            cond = cond & (F.col("field") == fields[0])
            # postings are distinct (field, term, key) rows by construction,
            # so a single-field lookup is already key-unique — no shuffle
            out = self.postings.filter(cond).select(*self._KEYS)
        else:
            cond = cond & F.col("field").isin(list(fields))
            # the norm/norm_alt synonym union can yield the same key from
            # both fields; AND-intersection joins below require unique keys
            out = self.postings.filter(cond).select(*self._KEYS).dropDuplicates(self._KEYS)
        return out

    def _term_df(self, fields: Sequence[str], term: str) -> int:
        """Document frequency of (fields, term) from the stats table — a
        pruned lookup (tbucket partition + sorted-term row-group skip) of a
        table with one row per distinct (field, term), i.e. Lucene's
        TermStates.docFreq. Memoized per reader generation: the estimate
        pass and the join-ordering pass ask for the same terms."""
        key = (tuple(fields), term)
        cached = self._df_cache.get(key)
        if cached is not None:
            return cached
        tb = zlib.crc32(term.encode()) % self.n_term_buckets
        rows = (
            self.stats.filter(
                (F.col("tbucket") == tb)
                & (F.col("term") == term)
                & F.col("field").isin(list(fields))
            )
            .agg(F.sum("df"))
            .first()
        )
        out = int(rows[0] or 0)
        self._df_cache[key] = out
        return out

    def estimated_candidates(self, tree, max_expansions: int = 1024) -> Optional[int]:
        """Upper-bound candidate-key count for the prefilter tree, from
        per-term document frequencies. None = unbounded (the tree has an
        unconstrained arm). AND takes the tightest arm;
        OR sums. The engine uses this as Lucene uses docFreq: to decide
        whether the postings plan beats the scan plan."""
        t = type(tree)
        if t is pf.PFFalse:
            return 0
        if t is pf.PFTerm:
            fields = self._multi_term_fields(tree.field)
            if fields is None:
                return None
            return self._term_df(fields, tree.value)
        if t is pf.PFMultiTerm:
            fields = self._multi_term_fields(tree.field)
            if fields is None:
                return None
            exp = self._expand_multi_term(fields, tree.kind, tree.value, max_expansions)
            return None if exp is None else exp[1]
        if t is pf.PFPhrase:
            ests = []
            for _, field, value in tree.anchors:
                fields = self._multi_term_fields(field)
                if fields is not None:
                    ests.append(self._term_df(fields, value))
            for _, node in tree.multi_anchors:
                fields = self._multi_term_fields(node.field)
                if fields is not None:
                    exp = self._expand_multi_term(
                        fields, node.kind, node.value, max_expansions
                    )
                    if exp is not None:
                        ests.append(exp[1])
            # positional intersection can only shrink the tightest anchor
            return min(ests) if ests else None
        if t is pf.PFEdge:
            if "outgoing_flat" not in self.indexed_columns:
                return None
            return self._term_df(["outgoing_flat"], tree.label)
        if t is pf.PFAnd:
            ests = [self.estimated_candidates(s, max_expansions) for s in tree.subs]
            ests = [e for e in ests if e is not None]
            return min(ests) if ests else None
        if t is pf.PFOr:
            ests = [self.estimated_candidates(s, max_expansions) for s in tree.subs]
            if not ests or any(e is None for e in ests):
                return None
            return sum(ests)
        return None

    def candidate_keys(self, tree, max_expansions: int = 1024) -> Optional[DataFrame]:
        """Sentence keys possibly matching the prefilter tree.

        Returns None when the tree cannot bound the result (PFTrue, an
        over-cap multi-term expansion, an OR with an unconstrained arm, or a
        field this index did not invert) — the caller then falls back to the
        full scan. Soundness mirrors plans/prefilter.py: the keys are a
        NECESSARY condition, never a filter that could drop a true match.
        """
        t = type(tree)
        if t is pf.PFTrue:
            return None
        if t is pf.PFFalse:
            return self.postings.select(*self._KEYS).limit(0)
        if t is pf.PFTerm:
            # synonym union: [norm=x] matches via norm OR norm_alt
            # (plans/prefilter.py to_spark_column renders the same union)
            fields = self._multi_term_fields(tree.field)
            if fields is None:
                return None
            return self._term_keys(fields, tree.value)
        if t is pf.PFMultiTerm:
            fields = self._multi_term_fields(tree.field)
            if fields is None:
                return None
            exp = self._expand_multi_term(fields, tree.kind, tree.value, max_expansions)
            if exp is None:
                return None
            terms = exp[0]
            if not terms:
                return self.postings.select(*self._KEYS).limit(0)
            return (
                self._expanded_postings(fields, terms)
                .select(*self._KEYS)
                .dropDuplicates(self._KEYS)
            )
        if t is pf.PFPhrase:
            # Lucene SpanNearQuery(slop=0, inOrder): intersect per-anchor
            # position lists shifted to a common base. Each anchor lookup is
            # the same pruned postings seek as a term (multi-term anchors go
            # through the dictionary expansion first); the join chain runs
            # over candidate keys only, and the (interpreted-HOF) position
            # arithmetic touches arrays of a few ints on those rows alone.
            # (sort_key, offset, keyed-positions) per usable anchor; lead
            # with the sparsest (Lucene's conjunction order) so the inner
            # joins never carry more keys than its postings
            lookups = []
            for off, field, value in tree.anchors:
                fields = self._multi_term_fields(field)
                if fields is None:
                    continue  # un-indexed layer: skip the anchor (sound)
                lookups.append(
                    (self._term_df(fields, value), off, self._term_positions(fields, value))
                )
            for off, node in tree.multi_anchors:
                fields = self._multi_term_fields(node.field)
                if fields is None:
                    continue
                exp = self._expand_multi_term(
                    fields, node.kind, node.value, max_expansions
                )
                if exp is None:
                    continue  # over-cap expansion: skip the anchor (sound)
                terms, dfsum = exp
                if not terms:
                    # the leaf matches NO stored term → nothing can match
                    return self.postings.select(*self._KEYS).limit(0)
                lookups.append((dfsum, off, self._expanded_positions(fields, terms)))
            if not lookups:
                return None
            lookups.sort(key=lambda x: x[0])
            out = None
            for i, (_, off, posdf) in enumerate(lookups):
                pcol = f"_p{i}"
                # NB: the transform lambda must take exactly ONE arg — a
                # second (even defaulted) arg is bound to the element INDEX
                cur = posdf.withColumn(
                    pcol, F.transform("positions", _shift_by(off))
                ).drop("positions")
                if out is None:
                    out = cur.withColumnRenamed(pcol, "_base")
                else:
                    out = (
                        out.join(cur, on=self._KEYS, how="inner")
                        .withColumn("_base", F.array_intersect("_base", pcol))
                        .drop(pcol)
                    )
            return out.filter(F.size("_base") > 0).select(*self._KEYS)
        if t is pf.PFEdge:
            if "outgoing_flat" not in self.indexed_columns:
                return None
            return self._term_keys(["outgoing_flat"], tree.label)
        if t is pf.PFAnd:
            # Lucene's conjunction scorer leads with the sparsest postings:
            # order arms by docFreq estimate ascending and chain LEFTSEMI
            # joins — every intermediate stays ≤ the smallest arm, and only
            # key columns move (an inner join would carry both sides)
            scored = []
            for s in tree.subs:
                k = self.candidate_keys(s, max_expansions)
                if k is not None:
                    est = self.estimated_candidates(s, max_expansions)
                    scored.append((est is None, est or 0, len(scored), k))
            if not scored:
                return None
            scored.sort(key=lambda x: x[:3])
            out = scored[0][3]
            for item in scored[1:]:
                out = out.join(item[3], on=self._KEYS, how="leftsemi")
            return out
        if t is pf.PFOr:
            subs = [self.candidate_keys(s, max_expansions) for s in tree.subs]
            if any(s is None for s in subs) or not subs:
                return None
            out = subs[0]
            for s in subs[1:]:
                out = out.unionByName(s)
            # dedup so a downstream AND-intersection join stays key-unique
            return out.dropDuplicates(self._KEYS)
        return None

    # -- query surface -------------------------------------------------------

    def engine(self, **kwargs) -> "IndexedSearchEngine":
        return IndexedSearchEngine(self, **kwargs)


class IndexedSearchEngine(SearchEngine):
    """SearchEngine whose sentence source is the written index: candidate
    keys from postings prune the sentence scan (dynamic partition pruning on
    doc_bucket + leftsemi on the full key) before the boolean prefilter and
    the matcher run unchanged."""

    def __init__(
        self,
        index: TermIndex,
        broadcast_candidates: bool = True,
        max_candidate_frac: float = 0.1,
        max_expansions: int = 1024,
        **kwargs,
    ):
        # live view: appended files visible, tombstoned docs filtered. A new
        # engine (or index.refresh() + new engine) is the reference's
        # searcher-manager re-open.
        super().__init__(index.live_sentences(), **kwargs)
        self.index = index
        self.broadcast_candidates = broadcast_candidates
        self.max_candidate_frac = max_candidate_frac
        # Lucene caps multi-term rewrites (maxExpansions / maxClauseCount);
        # past the cap the scan plan is both sound and usually cheaper
        self.max_expansions = max_expansions

    def _route(self, tree):
        """The single plan-choice point, shared by execution
        (_prefilter_sentences) and introspection (explain) so the two can
        never drift. Returns (route, estimate, candidate_keys, reason).

        Cost-based choice (Lucene plans from TermStates.docFreq): when the
        estimated candidate set is a large fraction of the corpus, the
        posting lookup + key join costs more than it prunes — the boolean-
        prefiltered scan IS the cheaper plan. The estimate is a pruned read
        of the tiny stats table, paid once per query."""
        est = self.index.estimated_candidates(tree, self.max_expansions)
        n = self.index.n_sentences
        if est is not None and n and est > self.max_candidate_frac * int(n):
            return (
                "scan",
                est,
                None,
                f"cost model: estimated candidates {est} > "
                f"{self.max_candidate_frac} x {n} sentences — the boolean-"
                "prefiltered scan is the cheaper plan",
            )
        cand = self.index.candidate_keys(tree, self.max_expansions)
        if cand is None:
            return (
                "scan",
                est,
                None,
                "unbounded prefilter: the pattern has no indexable necessary "
                "condition (pure wildcard, over-cap expansion, or an OR with "
                "an unconstrained arm)",
            )
        return (
            "index",
            est,
            cand,
            "posting-pruned candidate keys semi-joined into the sentence "
            "scan (dynamic partition pruning on doc_bucket)",
        )

    def explain(self, pattern: str) -> dict:
        """Which plan a pattern would take and why — the engine's analogue
        of Lucene's IndexSearcher explain / the reference shell's query
        introspection. Pure planning: reads only the (tiny) stats table and
        runs multi-term expansions; never touches the sentence corpus."""
        from .pipeline.extract import combined_prefilter

        extractors = self.compile(pattern)
        tree = combined_prefilter(extractors)
        route, est, _, reason = self._route(tree)
        return {
            "pattern": pattern,
            "prefilter": repr(tree),
            "estimated_candidates": est,
            "corpus_sentences": self.index.n_sentences,
            "max_candidate_frac": self.max_candidate_frac,
            "max_expansions": self.max_expansions,
            "route": route,
            "reason": reason,
        }

    def _prefilter_sentences(self, sents, extractors):
        from .pipeline.extract import combined_prefilter

        tree = combined_prefilter(extractors)
        route, _, cand, _ = self._route(tree)
        if route == "scan":
            return apply_prefilter(sents, extractors)
        if cand is not None:
            on = [k for k in TermIndex._KEYS if k in sents.columns]
            cand = cand.select(*on)
            # Interactive queries are selective by construction (that is why
            # the index path was chosen), so broadcasting the candidate keys
            # makes this a broadcast-hash SEMI join and lets dynamic partition
            # pruning drop whole doc_bucket directories from the sentence
            # scan. For a deliberately non-selective query against a huge
            # corpus (a stop-word term at 100 TB), pass
            # broadcast_candidates=False: the hint is dropped and AQE picks
            # shuffle-vs-broadcast from the candidate side's runtime size.
            if self.broadcast_candidates:
                cand = F.broadcast(cand)
            sents = sents.join(cand, on=on, how="leftsemi")
        return apply_prefilter(sents, extractors)
