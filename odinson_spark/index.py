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
  with the term's token positions (null only for the sentence's edge-label
  set, ``deps_label``), written ``partitionBy(tbucket)``
  (``crc32(term) % M``) and sorted by (field, term) within files: a term
  lookup touches exactly one partition directory, and parquet min/max stats
  on the sorted ``term`` column skip all but the matching row groups — the
  Spark rendering of a postings seek.
* **stats/** — per-(field, term) document frequency, bucketed like the
  postings: the term dictionary and the cost model's input.

The layout is derived from the input, never passed in: both bucket counts
follow one rule from the row count ``build`` takes anyway
(:func:`_n_buckets`), and the inverted columns are
``DEFAULT_INDEXED_COLUMNS`` present in the input. ``odinson_index_meta.json``
records the layout and pins each table's schema; ``compact()`` rebuilds with
the recorded layout. ``TermIndex.read`` opens only the format
``TermIndex.build`` writes and raises ``OdinsonException`` for any other
directory.

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
``MAX_EXPANSIONS`` cap past which the scan plan is used instead
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

# columns worth inverting: everything the prefilter can render
# (plans/prefilter.py _FIELD_TO_COLUMN maps incoming/outgoing, and PFEdge
# reads, the edge-label column pf.EDGE_LABELS — the one non-positional field)
DEFAULT_INDEXED_COLUMNS = (
    "raw",
    "word",
    "norm",
    "norm_alt",
    "lemma",
    "tag",
    "chunk",
    "entity",
    pf.EDGE_LABELS,
)

_META_FILE = "odinson_index_meta.json"
_TABLES = ("sentences", "postings", "stats")
_LAYOUT_KEYS = ("n_term_buckets", "n_doc_buckets", "indexed_columns")
_META_KEYS = (*_LAYOUT_KEYS, "schemas", "next_gen", "n_sentences")

# Lucene caps multi-term rewrites (maxExpansions / maxClauseCount); past the
# cap the scan plan is both sound and usually cheaper
MAX_EXPANSIONS = 1024


def _bucket(col, n: int):
    return F.pmod(F.crc32(col.cast("string")), F.lit(n)).cast("int")


def _n_buckets(n_rows: int) -> int:
    """Bucket count for both partitionings (doc_bucket, tbucket), from the
    row count alone. Dynamic partition pruning is BUCKET-granular, and
    uniformly-hashed candidate docs touch ~min(k, n_buckets) buckets — k
    selective matches admit ~k/n_buckets of the corpus. Too few buckets
    neuters pruning (measured: 20 candidates × 32 buckets admitted 62.5% of
    a 5M-row corpus); too many makes kilobyte files at small scale (a fixed
    64 term buckets turned ~1 MB of sentences into a 255-file index). ~5k
    sentences per bucket keeps both ends sane from test corpora to 100 TB,
    where the 65536 cap ≈ listing cost and row groups inside a bucket still
    skip on the sorted term column."""
    return max(8, min(65536, n_rows // 5000 or 8))


def _write_partitioned(df: DataFrame, path: str, by: str, mode: str, sort=()) -> None:
    """Write ``df`` partitionBy(``by``), one file per bucket per write:
    partitionBy alone writes one file per (task × bucket). ``sort`` orders
    rows within files so parquet min/max stats skip row groups."""
    out = df.repartition(by)
    if sort:
        out = out.sortWithinPartitions(*sort)
    out.write.mode(mode).partitionBy(by).parquet(path)


def _stats_of(postings: DataFrame) -> DataFrame:
    """Per-(field, term) document frequency — Lucene's cost model input
    (TermStates.docFreq drives its query planning): the engine skips the
    candidate join for terms whose postings are a large corpus fraction,
    where a scan is the cheaper plan. Small table (distinct terms × fields),
    same tbucket pruning as the postings. Appends add per-batch rows that
    readers sum."""
    return postings.groupBy("tbucket", "field", "term").agg(F.count(F.lit(1)).alias("df"))


def _local_path(path: str) -> str:
    """The local filesystem path an index lives at. The meta file, the
    tombstone listing and the compact swaps are local-filesystem
    operations, so a ``file:`` URI resolves to its path and any other
    scheme raises before anything is written."""
    from urllib.parse import unquote, urlparse

    u = urlparse(path)
    if not u.scheme:
        return path
    if u.scheme == "file" and u.netloc in ("", "localhost"):
        return unquote(u.path)
    raise OdinsonException(
        f"{path}: a TermIndex lives on the local filesystem; "
        "only plain paths and file: URIs are supported"
    )


def _write_json(path: str, obj) -> None:
    """Write ``obj`` to a temp file, then rename it over ``path``: a crash
    mid-write leaves the previous file intact, never a truncated one."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


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
    The edge-label column posts its label set with null positions: edge
    labels prune existence, not adjacency.

    Arrow-batched mapInPandas, the repo's fan-out pattern: interpreted HOFs
    can't build position lists, and this is the build path where per-row
    work is O(tokens) — scan-dominated either way."""
    from pyspark.sql import types as T

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
    label_set = pf.EDGE_LABELS

    def fn(batches):
        for pdf in batches:
            out = {k: [] for k in ("field", "term", "doc_bucket", "doc_id", "sent_id", "positions")}
            for db, did, sid, *layers in zip(
                pdf["doc_bucket"], pdf["doc_id"], pdf["sent_id"], *[pdf[c] for c in col_list]
            ):
                for c, arr in zip(col_list, layers):
                    if arr is None:
                        continue
                    if c == label_set:
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
        # per-reader-generation memo of multi-term expansions and document
        # frequencies: a query is planned more than once (explain, then run)
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
    def build(sentences: DataFrame, path: str) -> "TermIndex":
        """Write the index of ``sentences`` to ``path``. The layout is
        derived from the input: both bucket counts from its row count, the
        inverted columns from ``DEFAULT_INDEXED_COLUMNS`` present in it."""
        path = _local_path(path)
        n_rows = sentences.count()
        n_buckets = _n_buckets(n_rows)
        layout = {
            "n_term_buckets": n_buckets,
            "n_doc_buckets": n_buckets,
            "indexed_columns": [c for c in DEFAULT_INDEXED_COLUMNS if c in sentences.columns],
        }
        return TermIndex._write(sentences, path, layout, n_rows)

    @staticmethod
    def _write(sentences: DataFrame, path: str, layout: dict, n_rows: int) -> "TermIndex":
        """Write the three tables and the meta of an index with the given
        layout — the one write path of ``build`` and ``compact``."""
        spark = sentences.sparkSession
        # gen = write generation (Lucene's sequence number): lets a delete
        # tombstone doc versions written BEFORE it without hiding a later
        # re-add of the same doc_id (see delete_documents/live_sentences).
        # A fresh index starts at 0; compact() passes rows already stamped
        # with the generation they are rewritten at
        gen = F.col("gen") if "gen" in sentences.columns else F.lit(0)
        with_bucket = sentences.withColumn(
            "doc_bucket", _bucket(F.col("doc_id"), layout["n_doc_buckets"])
        ).withColumn("gen", gen.cast("long"))
        _write_partitioned(with_bucket, os.path.join(path, "sentences"), "doc_bucket", "overwrite")
        # postings from the files just written, not the upstream plan: the
        # (possibly expensive) annotation pipeline ran once for the sentence
        # write; the postings pass re-reads columnar parquet instead of
        # re-executing it. Explicit schemas on the read-backs: an empty
        # corpus writes no part files, and a schema-less read of an empty
        # dir cannot infer one
        written_sentences = spark.read.schema(with_bucket.schema).parquet(
            os.path.join(path, "sentences")
        )
        postings = _postings_of(
            written_sentences, layout["indexed_columns"], layout["n_term_buckets"]
        )
        _write_partitioned(
            postings, os.path.join(path, "postings"), "tbucket", "overwrite", ("field", "term")
        )
        written = spark.read.schema(postings.schema).parquet(os.path.join(path, "postings"))
        stats = _stats_of(written)
        _write_partitioned(
            stats, os.path.join(path, "stats"), "tbucket", "overwrite", ("field", "term")
        )
        meta = {
            **layout,
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
        _write_json(os.path.join(path, _META_FILE), meta)
        return TermIndex(spark, path, meta)

    @staticmethod
    def read(spark: SparkSession, path: str) -> "TermIndex":
        """Open an index written by :meth:`build`. A directory in any other
        format (undecodable meta, no pinned schema for a table, or postings
        without positions) raises :class:`OdinsonException` instead of
        opening with partial pruning."""
        path = _local_path(path)
        with open(os.path.join(path, _META_FILE)) as f:
            try:
                meta = json.load(f)
            except ValueError as e:
                raise OdinsonException(
                    f"{path} is not a TermIndex: unreadable {_META_FILE} ({e}); "
                    "rebuild it with TermIndex.build"
                ) from e
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
        _write_json(os.path.join(self.path, _META_FILE), self.meta)

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
            _write_partitioned(
                with_bucket, os.path.join(self.path, "sentences"), "doc_bucket", "append"
            )
            postings = _postings_of(with_bucket, cols, self.n_term_buckets).persist()
            _write_partitioned(
                postings, os.path.join(self.path, "postings"), "tbucket", "append",
                ("field", "term"),
            )
            _write_partitioned(
                _stats_of(postings), os.path.join(self.path, "stats"), "tbucket", "append",
                ("field", "term"),
            )
            self.meta["n_sentences"] = int(self.meta["n_sentences"]) + with_bucket.count()
            self.meta["next_gen"] = gen + 1
            self._write_meta()
        finally:
            with_bucket.unpersist()
            if postings is not None:
                postings.unpersist()
        self.refresh()

    def _tombstone(self, doc_ids: DataFrame) -> None:
        """Append a tombstone for every ``doc_id`` row, hiding the versions
        written before this call (cutoff = current generation). Deletes
        advance the generation too, so a delete-then-re-add within the same
        index lifetime lands at gen > cutoff."""
        cutoff = int(self.meta["next_gen"])
        # match the sentence table's doc_id type so the join stays cast-free
        # (build() preserves whatever type the caller used)
        target_type = dict(self.sentences.dtypes)["doc_id"]
        (
            doc_ids.select(F.col("doc_id").cast(target_type))
            .withColumn("cutoff", F.lit(cutoff).cast("long"))
            .write.mode("append")
            .parquet(os.path.join(self.path, self._TOMBSTONES))
        )
        self.meta["next_gen"] = cutoff + 1
        self._write_meta()

    def delete_documents(self, doc_ids: Sequence) -> None:
        """Tombstone documents (reference deleteOdinsonDoc). O(ids) write;
        the data files are untouched until ``compact()``."""
        self._tombstone(
            self.spark.createDataFrame([(str(d),) for d in doc_ids], "doc_id string")
        )

    def update_documents(self, sentences: DataFrame) -> None:
        """Reference updateOdinsonDoc: tombstone the old version, append the
        new one (which lands at a later generation, so it stays visible).

        The tombstones are written straight from the DataFrame — no driver
        collect, so a bulk re-annotation of 10^8 docs never ships ids
        through the driver."""
        self._tombstone(sentences.select("doc_id").distinct())
        self.add_documents(sentences)

    def compact(self) -> None:
        """Purge tombstones by rewriting both tables (Lucene's segment
        merge) with the index's existing layout. The only full rewrite in
        the lifecycle — run it when the tombstone fraction warrants
        reclaiming the space/filter cost."""
        import shutil

        # one fixed sibling work directory: what a crashed compact() left
        # there is cleared here instead of staying beside the index for good
        work = self.path.rstrip(os.sep) + ".compact"
        shutil.rmtree(work, ignore_errors=True)
        tomb = self._tombstones()
        if tomb is None:
            return
        # the rebuilt rows are stamped with the current generation, which is
        # at or above every tombstone cutoff: tombstones a crash leaves
        # behind (they are removed only after the swaps) cannot hide them
        gen = int(self.meta["next_gen"])
        live = self.live_sentences().withColumn("gen", F.lit(gen).cast("long")).drop("doc_bucket")
        # the recorded layout, not a re-derived one: a crash between the
        # swaps below must not leave tables with different bucket counts
        layout = {k: self.meta[k] for k in _LAYOUT_KEYS}
        rebuilt = TermIndex._write(live, work, layout, live.count())
        # advance the generation on disk before the first swap, so a delete
        # issued after a crash in the swaps still hides the rebuilt rows
        self.meta["next_gen"] = gen + 1
        self._write_meta()
        for sub in _TABLES:
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
        shutil.rmtree(work, ignore_errors=True)
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

    def _expand_multi_term(self, fields: Sequence[str], kind: str, value: str):
        """Rewrite a regex/fuzzy leaf against the term dictionary — Lucene's
        MultiTermQuery rewrite (the terms-enum ∩ automaton walk behind the
        reference's RegexpQuery/FuzzyQuery). The stats table IS the term
        dictionary: one row per distinct (field, term), orders of magnitude
        smaller than the corpus.

        Returns (matched_terms, df_upper_bound), or None when the expansion
        exceeds ``MAX_EXPANSIONS`` (the caller falls back to the scan plan,
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
        key = (tuple(fields), kind, value)
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
        rows = matched.limit(MAX_EXPANSIONS + 1).collect()
        out = None
        if len(rows) <= MAX_EXPANSIONS:
            out = (
                [r["term"] for r in rows],
                int(sum(int(r["df"]) for r in rows)),
            )
        self._mt_cache[key] = out
        return out

    def _inverted_fields(self, field: str) -> Optional[list]:
        """The inverted columns a token constraint on ``field`` reads, or
        None when this index did not invert it. Synonym union: [norm=x]
        matches via norm OR norm_alt (plans/prefilter.py to_spark_column
        renders the same union)."""
        col = pf._FIELD_TO_COLUMN.get(field, field)
        if col not in self.indexed_columns:
            return None
        fields = [col]
        if field == "norm" and "norm_alt" in self.indexed_columns:
            fields.append("norm_alt")
        return fields

    def _pruned(self, table: DataFrame, fields: Sequence[str], terms: Sequence[str]) -> DataFrame:
        """Rows of the postings or stats ``table`` for ``terms`` in
        ``fields``: the terms' buckets are computable driver-side, so the
        filter prunes tbucket partition directories, and the (field, term)
        literals push down to row-group skipping on the sorted term column."""
        tbs = sorted({zlib.crc32(t.encode()) % self.n_term_buckets for t in terms})
        return table.filter(
            F.col("tbucket").isin(tbs)
            & F.col("field").isin(list(fields))
            & F.col("term").isin(list(terms))
        )

    def _lookup(self, fields: Sequence[str], terms: Sequence[str], positions: bool) -> DataFrame:
        """Key-unique candidate rows of a term list (a plain term is a
        one-term expansion), with the per-key union of token positions when
        ``positions``: a token satisfies the leaf wherever ANY matched term
        occurs in ANY of the fields. Positional layers never post null
        positions (only the edge-label set does, and phrases never anchor
        on it)."""
        df = self._pruned(self.postings, fields, terms)
        cols = [*self._KEYS, "positions"] if positions else self._KEYS
        if len(fields) == 1 and len(terms) == 1:
            # postings are distinct (field, term, key) rows by construction,
            # so a single (field, term) lookup is already key-unique — no
            # shuffle
            return df.select(*cols)
        if positions:
            return df.groupBy(*self._KEYS).agg(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list("positions"))))
                .alias("positions")
            )
        # the same key can come from several fields or terms; AND-
        # intersection joins above require unique keys
        return df.select(*cols).dropDuplicates(self._KEYS)

    def _term_df(self, fields: Sequence[str], term: str) -> int:
        """Document frequency of (fields, term) from the stats table — a
        pruned lookup of a table with one row per distinct (field, term),
        i.e. Lucene's TermStates.docFreq. Memoized per reader generation."""
        key = (tuple(fields), term)
        cached = self._df_cache.get(key)
        if cached is not None:
            return cached
        rows = self._pruned(self.stats, fields, [term]).agg(F.sum("df")).first()
        out = int(rows[0] or 0)
        self._df_cache[key] = out
        return out

    def _leaf(self, field: str, kind: str, value: str):
        """(fields, terms, df upper bound) of a token leaf, or None when the
        index cannot bound it (un-inverted field, over-cap expansion)."""
        fields = self._inverted_fields(field)
        if fields is None:
            return None
        if kind == "term":
            return fields, [value], self._term_df(fields, value)
        exp = self._expand_multi_term(fields, kind, value)
        return None if exp is None else (fields, *exp)

    def _plan(self, tree):
        """The planner walk: (estimate, keys) of a prefilter node.

        The estimate is an upper-bound candidate-key count from per-term
        document frequencies — Lucene plans from docFreq the same way. The
        keys are a zero-argument callable building the DataFrame of sentence
        keys possibly matching the tree, so costing a plan builds no
        DataFrame. Both are None together when the tree cannot bound the
        result (PFTrue, an over-cap multi-term expansion, an OR with an
        unconstrained arm, or a field this index did not invert) — the
        caller then falls back to the full scan. Soundness mirrors
        plans/prefilter.py: the keys are a NECESSARY condition, never a
        filter that could drop a true match."""
        t = type(tree)
        if t is pf.PFFalse:
            return self._nothing()
        if t is pf.PFPhrase:
            # Lucene SpanNearQuery(slop=0, inOrder): intersect per-anchor
            # position lists shifted to a common base. Each anchor lookup is
            # the same pruned postings seek as a term (multi-term anchors go
            # through the dictionary expansion first); the join chain runs
            # over candidate keys only, and the (interpreted-HOF) position
            # arithmetic touches arrays of a few ints on those rows alone.
            # An un-indexed layer or an over-cap expansion skips its anchor
            # (sound).
            anchors = [(off, field, "term", value) for off, field, value in tree.anchors]
            anchors += [(off, n.field, n.kind, n.value) for off, n in tree.multi_anchors]
            leaves = []
            for off, field, kind, value in anchors:
                leaf = self._leaf(field, kind, value)
                if leaf is None:
                    continue
                fields, terms, est = leaf
                if not terms:
                    # the leaf matches NO stored term → nothing can match
                    return self._nothing()
                leaves.append((est, off, fields, terms))
            if not leaves:
                return None, None
            # lead with the sparsest (Lucene's conjunction order) so the
            # inner joins never carry more keys than its postings;
            # positional intersection can only shrink the tightest anchor
            leaves.sort(key=lambda x: x[0])

            def keys():
                out = None
                for i, (_, off, fields, terms) in enumerate(leaves):
                    pcol = f"_p{i}"
                    # NB: the transform lambda must take exactly ONE arg — a
                    # second (even defaulted) arg is bound to the element INDEX
                    cur = self._lookup(fields, terms, positions=True).withColumn(
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

            return leaves[0][0], keys
        if t is pf.PFAnd:
            # Lucene's conjunction scorer leads with the sparsest postings:
            # order arms by docFreq estimate ascending and chain LEFTSEMI
            # joins — every intermediate stays ≤ the smallest arm, and only
            # key columns move (an inner join would carry both sides)
            arms = sorted(
                (p for p in map(self._plan, tree.subs) if p[1] is not None),
                key=lambda p: p[0],
            )
            if not arms:
                return None, None

            def keys():
                out = arms[0][1]()
                for _, arm in arms[1:]:
                    out = out.join(arm(), on=self._KEYS, how="leftsemi")
                return out

            return arms[0][0], keys
        if t is pf.PFOr:
            arms = [self._plan(s) for s in tree.subs]
            if not arms or any(arm is None for _, arm in arms):
                return None, None

            def keys():
                out = arms[0][1]()
                for _, arm in arms[1:]:
                    out = out.unionByName(arm())
                # dedup so a downstream AND-intersection join stays key-unique
                return out.dropDuplicates(self._KEYS)

            return sum(est for est, _ in arms), keys
        if t is pf.PFTerm:
            leaf = self._leaf(tree.field, "term", tree.value)
        elif t is pf.PFMultiTerm:
            leaf = self._leaf(tree.field, tree.kind, tree.value)
        elif t is pf.PFEdge:
            leaf = self._leaf("outgoing", "term", tree.label)
        else:  # PFTrue
            return None, None
        if leaf is None:
            return None, None
        fields, terms, est = leaf
        if not terms:
            return self._nothing()
        return est, lambda: self._lookup(fields, terms, positions=False)

    def _nothing(self):
        """The plan of a node no sentence can match: no keys."""
        return 0, lambda: self.postings.select(*self._KEYS).limit(0)

    def estimated_candidates(self, tree) -> Optional[int]:
        """Upper-bound candidate-key count for the prefilter tree (None =
        unbounded). AND takes the tightest arm; OR sums. The engine uses
        this as Lucene uses docFreq: to decide whether the postings plan
        beats the scan plan."""
        return self._plan(tree)[0]

    def candidate_keys(self, tree) -> Optional[DataFrame]:
        """Sentence keys possibly matching the prefilter tree, or None when
        the tree cannot bound the result (see :meth:`_plan`)."""
        keys = self._plan(tree)[1]
        return None if keys is None else keys()

    # -- query surface -------------------------------------------------------

    def engine(self, **kwargs) -> "IndexedSearchEngine":
        return IndexedSearchEngine(self, **kwargs)


class IndexedSearchEngine(SearchEngine):
    """SearchEngine whose sentence source is the written index: candidate
    keys from postings prune the sentence scan (dynamic partition pruning on
    doc_bucket + leftsemi on the full key) before the boolean prefilter and
    the matcher run unchanged."""

    def __init__(self, index: TermIndex, max_candidate_frac: float = 0.1, **kwargs):
        # live view: appended files visible, tombstoned docs filtered. A new
        # engine (or index.refresh() + new engine) is the reference's
        # searcher-manager re-open.
        super().__init__(index.live_sentences(), **kwargs)
        self.index = index
        self.max_candidate_frac = max_candidate_frac

    def _route(self, tree):
        """The single plan-choice point, shared by execution
        (_prefilter_sentences) and introspection (explain) so the two can
        never drift. Returns (route, estimate, keys, reason), where keys
        builds the candidate-key DataFrame of the index route.

        Cost-based choice (Lucene plans from TermStates.docFreq): when the
        estimated candidate set is a large fraction of the corpus, the
        posting lookup + key join costs more than it prunes — the boolean-
        prefiltered scan IS the cheaper plan. The estimate is a pruned read
        of the tiny stats table, paid once per query."""
        est, keys = self.index._plan(tree)
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
        if keys is None:
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
            keys,
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
            "route": route,
            "reason": reason,
        }

    def _prefilter_sentences(self, sents, extractors):
        from .pipeline.extract import combined_prefilter

        tree = combined_prefilter(extractors)
        route, _, keys, _ = self._route(tree)
        if route == "index":
            on = [k for k in TermIndex._KEYS if k in sents.columns]
            # Interactive queries are selective by construction (that is why
            # the index path was chosen), so broadcasting the candidate keys
            # makes this a broadcast-hash SEMI join and lets dynamic partition
            # pruning drop whole doc_bucket directories from the sentence
            # scan.
            sents = sents.join(F.broadcast(keys().select(*on)), on=on, how="leftsemi")
        return apply_prefilter(sents, extractors)
