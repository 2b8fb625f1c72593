"""KG benchmark: code-corpus build throughput and live-index latency.

    python3 kgbench/run.py --workload kg_code --seed 1 --seconds 45 --trace 0

Run from the repository root. One run, in one driver process with Spark on
``local[N]`` (N = min(4, usable cores)) and one client:

1. set-up — start the Spark session; then, three times, generate the
   workload's seeded ``repos`` table (every generation must give the same
   byte digest), write it as parquet, read it back and compile the grammar.
2. timed window — one fixed set of operations: the build phase runs the
   ``tools/run_pipeline.py`` stage sequence (tokenize → prefilter + match →
   triples → build_graph) through ``CheckpointedPipeline`` once, in a fresh
   process, as a batch job runs; the index phase runs ``TermIndex.build``
   over its sentences; the live phase is a closed loop, one client, zero
   think time, issuing one query per pattern class (see ``live.plan_ops``).
   ``--seconds`` sizes nothing: every operation costs about a second of
   Spark job scheduling, so the work that fits the run budget is fixed.
3. checks — the outputs are verified; each failed check counts as a failed
   operation.

End-to-end metrics (``--trace 0``): ``setup_s`` (process start to the
first timed operation, with the input set-up counted once, as the median of
its three repetitions), ``files_per_s`` (input files ÷ pipeline wall) and
``peak_rss_mb`` (the timed window's peak of the process tree's summed
proportional set size, sampled from ``/proc``). The index and live phases still run, and are
checked, on every run, but their times are per-layer metrics of the traced
run (``index.build_s``, ``search.query_ms``, ``search.serve_s`` and per
class): each is a few seconds of one-second Spark jobs, too short to stay
within a regression bound from run to run on a shared host.

The traced run (``--trace 1``) times the pipeline call by call under spans
instead, makes a second live round so every class runs in both modes, adds
an ``add_documents`` batch and a ``delete_documents`` call to the first,
reports the per-layer metrics, and writes its spans to ``.kgbench_out/``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--tiny`` runs smoke-test sizes.

``bench.py`` at the repository root is the legacy harness (best of three on
a fixed table, off-path queries, no checks); this benchmark, described by
``BENCHMARK.json``, is the measure of performance claims.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from kgbench import gen  # noqa: E402

# kg_code is tokenizer/matcher-heavy (long files, small vocabulary, few
# distinct surfaces); kg_link is linking-heavy (short files, a large
# near-duplicate vocabulary, most triples carry a distinct surface).
WORKLOADS = {
    "kg_code": {"kind": "code", "files": 160, "mean_lines": 70, "add_files": 5},
    "kg_link": {"kind": "link", "files": 800, "stems": 4000, "add_files": 5},
}
TINY = {
    "kg_code": {"kind": "code", "files": 30, "mean_lines": 20, "add_files": 3},
    "kg_link": {"kind": "link", "files": 60, "stems": 200, "add_files": 3},
}
SETUP_REPS = 3
INPUT_FILES = 8
DELETE_FROM_CORPUS = 2
REFERENCE_SAMPLE = 20
# live rounds: one query per pattern class each (see live.plan_ops); the
# traced run makes a second round, so every class is timed in both modes,
# and adds an add batch and a delete call to the first
ROUNDS = 1
TRACED_ROUNDS = 2
# classes tried, in order, for the index-route-equals-scan check
INDEX_CHECK_CLASSES = ("ident", "keyword", "phrase", "traversal", "regex", "fuzzy")

E2E = {
    "setup_s": "s",
    "files_per_s": "files/s",
    "peak_rss_mb": "MB",
}
BUILD_LAYERS = (
    "tokenizer", "match", "pipeline.extract.triples", "pipeline.linking",
    "pipeline.components", "pipeline.materialize",
)
SESSION_SPANS = BUILD_LAYERS + (
    "plans.prefilter", "index.build", "search.page", "search.count", "index.add", "index.delete",
)
SESSION_KEYS = ("jobs", "tasks", "cpu_frac", "gc_frac", "idle_slot_frac")


def per_layer_names():
    from kgbench.build import STAGES
    from kgbench.live import CLASSES

    names = [
        "tokenizer.files", "tokenizer.sentences", "tokenizer.tokens", "tokenizer.core_s",
        "plans.prefilter.pass_frac",
        "match.core_s", "match.batch_build_s", "match.mentions", "match.useful_frac",
        "pipeline.extract.tokenize_s", "pipeline.extract.match_s",
        "pipeline.extract.triples_s", "pipeline.extract.triples",
        "pipeline.extract.udf_wait_frac", "pipeline.extract.task_skew",
        "pipeline.linking.surfaces", "pipeline.linking.lsh_s",
        "pipeline.linking.candidate_pairs", "pipeline.linking.score_s",
        "pipeline.linking.kept_frac", "pipeline.linking.shuffle_bytes",
        "pipeline.components.cc_s", "pipeline.components.spark_jobs",
        "pipeline.components.canonical_nodes", "pipeline.components.shuffle_bytes",
        "pipeline.materialize.nodes_s", "pipeline.materialize.edges_s",
        "pipeline.materialize.nodes", "pipeline.materialize.edges",
    ]
    names += [f"pipeline.checkpoint.bytes_written.{s}" for s in STAGES]
    names += [f"pipeline.checkpoint.write_s.{s}" for s in STAGES]
    names += ["index.build_s", "search.query_ms", "search.serve_s"]
    names += ["lang.compile_ms", "index.route_index_frac", "index.estimate_ms",
              "index.candidate_keys", "index.add_s", "index.delete_s",
              "index.files", "index.bytes"]
    names += [f"search.page_ms.{c}" for c in CLASSES]
    names += [f"search.count_ms.{c}" for c in CLASSES]
    names += [f"session.{s}.{k}" for s in SESSION_SPANS for k in SESSION_KEYS]
    names += ["trace.coverage", "trace.build_wall_s", "trace.extract_frac", "trace.link_frac"]
    return names


def per_layer_unit(name: str) -> str:
    if name.endswith("_ms") or "_ms." in name:
        return "ms"
    if name.endswith("_s") or ".write_s." in name:
        return "s"
    if name.endswith("_frac") or name.endswith("task_skew") or name == "trace.coverage":
        return "ratio"
    if "bytes" in name:
        return "bytes"
    return "count"


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def gmean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


# ---------------------------------------------------------------------------


def generate(cfg: dict, seed: int):
    if cfg["kind"] == "code":
        return gen.code_repos(seed, cfg["files"], mean_lines=cfg["mean_lines"])
    return gen.link_repos(seed, cfg["files"], cfg["stems"])


def vocab_of(cfg: dict, seed: int, rows):
    from kgbench.live import Vocab

    # keywords of about the same frequency in their corpus, so the class
    # costs about the same whichever one a seed picks
    if cfg["kind"] == "code":
        return Vocab(rows, [f"{f}_{d}" for f in gen.SMALL_FUNCS for d in range(10)], ("return", "if"))
    return Vocab(rows, gen.link_vocabulary(seed, cfg["stems"]), ("def",))


class Run:
    def __init__(self, args, cfg):
        self.args = args
        self.cfg = cfg
        self.trace = bool(args.trace)
        self.work = os.path.join(ROOT, ".kgbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.failures = []
        self.tables = None
        self.handles = None
        self.li = None
        self.index_build_s = 0.0
        self.rounds = 0
        self.samples = {}
        self.updates = {"add": [], "delete": []}

    # -- bookkeeping ----------------------------------------------------------

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.failures.append(msg)
        print(f"kgbench: FAILED: {msg}", file=sys.stderr)

    def attempt(self, what: str, fn):
        """Run one operation; an exception counts as a failed operation."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            traceback.print_exc()
            self.fail(f"{what} raised")
            return None

    def check(self, fn) -> None:
        """Run one output check; it fails if it raises or reports messages."""
        self.attempted += 1
        try:
            msgs = fn()
        except Exception:
            traceback.print_exc()
            msgs = [f"{getattr(fn, '__name__', 'check')} raised"]
        if msgs:
            self.failed += 1
            for m in msgs:
                self.failures.append(m)
                print(f"kgbench: FAILED: {m}", file=sys.stderr)

    # -- phases ---------------------------------------------------------------

    def setup(self) -> float:
        from kgbench.build import compile_grammar
        from kgbench.env import now, prepare_env, start_spark

        os.makedirs(self.work, exist_ok=True)
        prepare_env(self.work)
        self.spark = start_spark(self.work, ui=self.trace)
        self.sc = self.spark.sparkContext
        t_session = now() - T_PROCESS
        self.repos_path = os.path.join(self.work, "repos")
        t_inputs, digests = [], set()
        for _ in range(SETUP_REPS):
            t = now()
            rows = generate(self.cfg, self.args.seed)
            digests.add(gen.table_digest(rows))
            gen.write_parquet(rows, self.repos_path, INPUT_FILES)
            if self.spark.read.parquet(self.repos_path).count() != len(rows):
                raise SystemExit("kgbench: the input table did not read back whole")
            self.extractors = compile_grammar()
            t_inputs.append(now() - t)
        if len(digests) != 1:
            raise SystemExit("kgbench: the generator is not deterministic for this seed")
        self.rows = rows
        self.digest = digests.pop()
        self.setup_parts = {"session_s": t_session, "inputs_s": t_inputs}
        return t_session + statistics.median(t_inputs)

    def build_phase(self, tr) -> None:
        """The timed pipeline: untraced, or in the traced run under spans."""
        from kgbench.build import run_pipeline, run_traced
        from kgbench.env import now

        t = now()
        if self.trace:
            res = self.attempt(
                "traced pipeline",
                lambda: run_traced(self.spark, self.repos_path, os.path.join(self.work, "kgt"),
                                   self.extractors, "traced", tr),
            )
            if res is not None:
                self.tables, self.handles = res
        else:
            self.tables = self.attempt(
                "pipeline",
                lambda: run_pipeline(self.spark, self.repos_path, os.path.join(self.work, "kg"),
                                     self.extractors, "kg"),
            )
        self.build_wall = now() - t

    def index_phase(self, tr):
        from odinson_spark.index import TermIndex

        from kgbench.env import now

        self.index_path = os.path.join(self.work, "index")
        sentences = _plain(self.tables["sentences"])
        t = self.t_index = now()
        with tr.span("index.build"):
            index = self.attempt("index build", lambda: TermIndex.build(sentences, self.index_path))
        self.index_build_s = now() - t
        return index

    def live_phase(self, index, tr) -> None:
        from odinson_spark.pipeline.extract import combined_prefilter

        from kgbench import live
        from kgbench.env import now

        vocab = vocab_of(self.cfg, self.args.seed, self.rows)
        li = self.li = live.LiveIndex(self.spark, index)
        self.samples = {(kind, c): [] for kind in ("page", "count") for c in live.CLASSES}
        prev = {}
        self.layer = {"compile_ms": [], "estimate_ms": [], "route_index": [], "cand_keys": []}
        self.check_patterns = {}
        self.deleted = []
        adds = []
        corpus_ids = [
            gen.doc_id(r)
            for r in random.Random(f"del/{self.args.seed}").sample(self.rows, DELETE_FROM_CORPUS)
        ]
        rnd = 0
        while rnd < (TRACED_ROUNDS if self.trace else ROUNDS):
            for op in live.plan_ops(self.args.seed, rnd, vocab, prev, updates=self.trace and rnd == 0):
                kind = op["op"]
                if kind in ("page", "count"):
                    cls, pat = op["cls"], op["pattern"]
                    if self.trace:
                        self._trace_plan(li, cls, pat, tr, combined_prefilter)
                    self.check_patterns.setdefault(cls, pat)
                    call = li.page if kind == "page" else li.count
                    t = now()
                    with tr.span(f"search.{kind}"):
                        res = self.attempt(f"{kind} {pat!r}", lambda: call(cls, pat))
                    if res is not None:
                        self.samples[(kind, cls)].append((now() - t) * 1000)
                elif kind == "add":
                    rows, keep, _ = live.add_batch(self.args.seed, len(adds), self.cfg["add_files"])
                    t = now()
                    with tr.span("index.add"):
                        seen = self.attempt("add_documents", lambda: li.add(rows, keep))
                    if seen is not None:
                        self.updates["add"].append((now() - t) * 1000)
                        if seen != 2:
                            self.fail(f"live: added marker {keep} seen {seen} times, want 2")
                    adds.append(gen.doc_id(rows[1]))
                elif kind == "delete":
                    ids = [d for d in corpus_ids + adds if d not in self.deleted]
                    probe = f"[norm=/kgdrop{self.args.seed}k[0-9]+/]"
                    t = now()
                    with tr.span("index.delete"):
                        seen = self.attempt("delete_documents", lambda: li.delete(ids, probe))
                    if seen is not None:
                        self.updates["delete"].append((now() - t) * 1000)
                        if seen:
                            self.fail(f"live: {seen} mentions of deleted documents still visible")
                    self.deleted.extend(ids)
            rnd += 1
        self.rounds = rnd

    def _trace_plan(self, li, cls, pat, tr, combined_prefilter) -> None:
        """Traced runs only: time compilation and planning of a query on
        their own, and record its route and candidate-key count."""
        from odinson_spark.lang.rules import RuleReader

        from kgbench.env import now

        t = now()
        with tr.span("lang.compile"):
            ex = RuleReader().compile_rules(pat)[0] if cls == "event" else li.engine.compile(pat)
        self.layer["compile_ms"].append((now() - t) * 1000)
        if cls == "event":
            return
        with tr.span("index.plan"):
            tree = combined_prefilter(ex)
            t = now()
            li.index.estimated_candidates(tree)
            self.layer["estimate_ms"].append((now() - t) * 1000)
            route = li.engine.explain(pat)["route"]
            self.layer["route_index"].append(1.0 if route == "index" else 0.0)
            if route == "index":
                keys = li.index.candidate_keys(tree)
                if keys is not None:
                    self.layer["cand_keys"].append(keys.count())

    # -- checks ---------------------------------------------------------------

    def run_checks(self) -> None:
        from pyspark.sql import functions as F

        from odinson_spark.search import SearchEngine

        from kgbench import checks
        from kgbench.build import run_pipeline

        rng = random.Random(f"sample/{self.args.seed}")
        sample = rng.sample(self.rows, min(len(self.rows), REFERENCE_SAMPLE))
        expected, self.floor = checks.floor_and_reference(sample, self.extractors)
        if self.tables is None:
            self.fail("no pipeline output to check")
        else:
            self.check(lambda: checks.check_triples(self.tables["triples"], sample, expected))
            self.check(lambda: checks.check_graph(self.tables, self.rows))
            if self.trace:
                # build_graph's own nodes and edges, untimed, to compare with
                # the traced run's call-by-call reconstruction
                plain = self.attempt("pipeline", lambda: run_pipeline(
                    self.spark, self.repos_path, os.path.join(self.work, "kg"), self.extractors, "kg"))
                if plain is not None:
                    self.check(lambda: checks.same_graph(plain, self.tables))
        if self.li is None:
            return
        li = self.li
        scan = SearchEngine(li.index.live_sentences())

        def index_equals_scan():
            # the first pattern of the run that the planner sends to the
            # index, so the check compares the index route with a scan
            pat = next((self.check_patterns[c] for c in INDEX_CHECK_CLASSES
                        if c in self.check_patterns
                        and li.engine.explain(self.check_patterns[c])["route"] == "index"), None)
            if pat is None:
                return ["live: no query of the run took the index route"]
            a, b = li.engine.mentions(pat).count(), scan.mentions(pat).count()
            if a != b:
                return [f"live: index route counts {a} != scan counts {b} for {pat!r}"]
            return []

        def deleted_hidden():
            left = li.index.live_sentences().filter(F.col("doc_id").isin(self.deleted)).count()
            return [f"live: {left} sentences of deleted documents still visible"] if left else []

        self.check(index_equals_scan)
        if self.deleted:
            self.check(deleted_hidden)

    # -- metrics --------------------------------------------------------------

    def query_ms(self) -> float:
        """Geometric mean over the pattern classes of each class's median
        query latency, so that a run's few samples weigh every class alike."""
        return gmean(median(xs) for xs in self.samples.values() if xs)

    def end_to_end(self, setup_s: float, peak_mb: float) -> dict:
        return {
            "setup_s": setup_s,
            "files_per_s": len(self.rows) / self.build_wall if self.tables is not None else 0.0,
            "peak_rss_mb": peak_mb,
        }

    def per_layer(self, tr) -> dict:
        from pyspark.sql import functions as F

        from kgbench import build
        from kgbench.env import slots
        from kgbench.trace import SparkRest, task_skew

        if self.handles is None:
            return {name: 0.0 for name in per_layer_names()}
        out = {}
        t = self.tables
        h = self.handles
        n_sent = t["sentences"].count()
        n_pass = h["passed"].count()
        out["tokenizer.files"] = len(self.rows)
        out["tokenizer.sentences"] = n_sent
        out["tokenizer.tokens"] = t["sentences"].agg(F.sum("num_tokens")).first()[0] or 0
        out["tokenizer.core_s"] = self.floor["tokenizer.core_s"]
        out["plans.prefilter.pass_frac"] = n_pass / n_sent if n_sent else 0.0
        out["match.core_s"] = self.floor["match.core_s"]
        out["match.batch_build_s"] = self.floor["match.batch_build_s"]
        out["match.mentions"] = t["mentions"].count()
        useful = t["mentions"].select("doc_id", "sent_id").distinct().count()
        out["match.useful_frac"] = useful / n_pass if n_pass else 0.0

        rest = SparkRest(self.sc)
        rest.load()
        n = slots()

        def groups(name):
            return [g for s in tr.named(name) for g in tr.subtree_groups(s)]

        out["pipeline.extract.tokenize_s"] = tr.total("tokenizer")
        out["pipeline.extract.match_s"] = tr.total("match")
        out["pipeline.extract.triples_s"] = tr.total("pipeline.extract.triples")
        out["pipeline.extract.triples"] = t["triples"].count()
        ext_groups = groups("tokenizer.compute") + groups("match.compute")
        m = rest.span_metrics(ext_groups, tr.total("tokenizer.compute") + tr.total("match.compute"), n)
        out["pipeline.extract.udf_wait_frac"] = (
            max(0.0, 1.0 - (m["cpu_ms"] + m["gc_ms"]) / m["run_ms"]) if m["run_ms"] else 0.0
        )
        out["pipeline.extract.task_skew"] = max(
            [task_skew(rest.task_times_ms([s])) for s in rest.stages_of(ext_groups)
             if s["numCompleteTasks"] > 1] or [0.0]
        )
        n_pairs = h["pairs"].count()
        out["pipeline.linking.surfaces"] = h["surfaces"].count()
        out["pipeline.linking.lsh_s"] = tr.total("pipeline.linking.lsh")
        out["pipeline.linking.candidate_pairs"] = n_pairs
        out["pipeline.linking.score_s"] = tr.total("pipeline.linking.score")
        out["pipeline.linking.kept_frac"] = h["links"].count() / n_pairs if n_pairs else 0.0
        out["pipeline.linking.shuffle_bytes"] = rest.span_metrics(
            groups("pipeline.linking"), 1, n)["shuffle_bytes"]
        out["pipeline.components.cc_s"] = tr.total("pipeline.components")
        out["pipeline.components.spark_jobs"] = len(rest.jobs_of(groups("pipeline.components")))
        out["pipeline.components.canonical_nodes"] = h["comp"].select("canonical_id").distinct().count()
        out["pipeline.components.shuffle_bytes"] = rest.span_metrics(
            groups("pipeline.components"), 1, n)["shuffle_bytes"]
        out["pipeline.materialize.nodes_s"] = tr.total("pipeline.materialize.nodes")
        out["pipeline.materialize.edges_s"] = tr.total("pipeline.materialize.edges")
        out["pipeline.materialize.nodes"] = t["nodes"].count()
        out["pipeline.materialize.edges"] = t["edges"].count()
        for s in build.STAGES:
            out[f"pipeline.checkpoint.bytes_written.{s}"] = build.dir_bytes(
                os.path.join(self.work, "kgt", s))
            out[f"pipeline.checkpoint.write_s.{s}"] = tr.total(f"pipeline.checkpoint.{s}")

        out["index.build_s"] = self.index_build_s
        out["search.query_ms"] = self.query_ms()
        out["search.serve_s"] = self.t1 - self.t_index
        lay = self.layer
        out["lang.compile_ms"] = median(lay["compile_ms"])
        out["index.route_index_frac"] = (
            sum(lay["route_index"]) / len(lay["route_index"]) if lay["route_index"] else 0.0)
        out["index.estimate_ms"] = median(lay["estimate_ms"])
        out["index.candidate_keys"] = median(lay["cand_keys"])
        out["index.add_s"] = median(self.updates["add"]) / 1000
        out["index.delete_s"] = median(self.updates["delete"]) / 1000
        out["index.files"] = build.dir_files(self.index_path)
        out["index.bytes"] = build.dir_bytes(self.index_path)
        for (kind, cls), xs in self.samples.items():
            out[f"search.{kind}_ms.{cls}"] = median(xs)
        for name in SESSION_SPANS:
            sm = rest.span_metrics(groups(name), tr.total(name), n)
            for k in SESSION_KEYS:
                out[f"session.{name}.{k}"] = sm[k]

        # shares of the traced pipeline's wall taken by its top-level layers
        wall_of = lambda *names: sum(tr.total(x) for x in names)  # noqa: E731
        build_wall = wall_of(*BUILD_LAYERS)
        out["trace.coverage"] = tr.coverage(self.t0, self.t1)
        out["trace.build_wall_s"] = self.build_wall
        out["trace.extract_frac"] = wall_of("tokenizer", "match") / build_wall
        out["trace.link_frac"] = wall_of("pipeline.linking", "pipeline.components") / build_wall
        return out


def _plain(sentences):
    """Sentence rows without the pipeline's lineage columns."""
    return sentences.drop("_stage", "_run_id", "_partition_id")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=45)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    args = ap.parse_args(argv)
    try:
        import pyspark  # noqa: F401

        import odinson_spark  # noqa: F401
    except ImportError as e:
        print(f"kgbench: cannot import the program under test ({e}); "
              f"run from the repository root", file=sys.stderr)
        return 2
    from kgbench.env import stop_spark

    run = Run(args, (TINY if args.tiny else WORKLOADS)[args.workload])
    try:
        return _run(run, args)
    finally:
        if getattr(run, "spark", None) is not None:
            stop_spark(run.spark)
        shutil.rmtree(run.work, ignore_errors=True)


def _run(run: Run, args) -> int:
    from kgbench.env import RssSampler, now
    from kgbench.trace import Tracer

    setup_s = run.setup()
    tr = Tracer(run.sc, f"{args.workload}-{args.seed}", enabled=run.trace)
    rss = RssSampler()
    rss.start()
    run.t0 = now()
    run.build_phase(tr)
    index = run.index_phase(tr) if run.tables is not None else None
    if index is not None:
        run.live_phase(index, tr)
    run.t1 = now()
    peak_mb = rss.stop()
    t_checks = now()
    run.run_checks()
    t_checks = now() - t_checks

    if run.trace:
        metrics = run.per_layer(tr)
        os.makedirs(os.path.join(ROOT, ".kgbench_out"), exist_ok=True)
        tr.dump(
            os.path.join(ROOT, ".kgbench_out", f"trace-{args.workload}-{args.seed}.json"),
            {"window": [run.t0, run.t1], "per_layer": metrics, "setup": run.setup_parts},
        )
        units = {k: per_layer_unit(k) for k in metrics}
    else:
        metrics = run.end_to_end(setup_s, peak_mb)
        units = E2E
    info = {
        "workload": args.workload, "seed": args.seed, "digest": run.digest,
        "input": gen.table_stats(run.rows), "setup": run.setup_parts,
        "build_wall_s": run.build_wall, "index_build_s": run.index_build_s, "rounds": run.rounds,
        "window_s": run.t1 - run.t0, "checks_s": t_checks,
        "samples_ms": {f"{k}.{c}": [round(x) for x in v]
                       for (k, c), v in run.samples.items()},
        "updates_ms": {k: [round(x) for x in v] for k, v in run.updates.items()},
        "failures": run.failures,
    }
    print("kgbench: " + json.dumps(info), file=sys.stderr)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
