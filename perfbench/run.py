#!/usr/bin/env python3
"""Knowledge-graph benchmark: ``build`` and ``query`` workloads.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}`` with every end-to-end
metric of BENCHMARK.json (``--trace 0``) or every per-layer metric
(``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import pandas as pd  # noqa: E402

import harness  # noqa: E402  (the benchmark's own modules need no program)
import tracing  # noqa: E402

MIN_QUERIES = 20  # p50 needs ten samples beyond it
MAX_QUERIES = 36
SETUP_REPEATS = 3  # lexicon preparation is timed this many times; the median counts
# The Spark driver's heap. The session pins and pre-touches it; the program's
# default (8g) would hold 8 GB of the host per run, and 2g is ample for
# these corpora (the live heap after a run stays under 0.5 GB).
DRIVER_MEM = "2g"
LAYER_SPANS = ("pipeline.extract", "pipeline.link", "operators.canonical",
               "pipeline.kg", "operators.triples.replace", "operators.triples.dedup",
               "sources.writers")
COUNTER_SPANS = ("pipeline.run", "pipeline.link", "operators.canonical",
                 "sources.writers", "query")
MAINTAIN_SPANS = ("pipeline.incremental.apply", "pipeline.forget")
TRIPLE_KEY = ["subject", "predicate", "object"]
EDGE_KEY = ["src", "pred", "dst"]


def _query_prefix(cls: str) -> str:
    return f"operators.{'api' if cls == 'label' else 'sparql'}.{cls}"


def _phases(metrics: list[dict]) -> dict[str, float]:
    """Seconds per phase name from a PipelineResult's ``_phase@batch``
    rows; a phase recorded twice is summed."""
    out: dict[str, float] = {}
    for m in metrics:
        if m["stage"].startswith("_"):
            name = m["stage"][1:].split("@", 1)[0]
            out[name] = out.get(name, 0.0) + m["seconds"]
    return out


class Run:
    """One benchmark run: its arguments, scratch directory and session."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = tracing.Tracer() if args.trace else tracing.NullTracer()
        self.eventlog = os.path.join(work, "eventlog") if args.trace else None
        self.layer: dict[str, float] = {}
        self.mem = harness.MemRecord(enabled=bool(args.trace))
        self.spark = None

    # -- session -----------------------------------------------------------

    def start(self, eventlog_dir: str | None = None) -> float:
        for d in ("local", "tmp", "warehouse"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["TERA_SPARK_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # keep the JVMs' temporary files (and their perf-data files,
            # which ignore java.io.tmpdir) out of the host's /tmp
            "spark.driver.extraJavaOptions":
                "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(self.work, "tmp"),
        }
        if eventlog_dir:
            conf.update(tracing.eventlog_conf(eventlog_dir))
        from tera_spark.session import get_spark

        t0 = time.time()
        self.spark = get_spark("perfbench", cores=self.cores, extra_conf=conf)
        return time.time() - t0

    def stop(self) -> None:
        """Stop Spark and wait until the JVM and every worker it started
        has exited."""
        from py4j.protocol import Py4JError

        if self.spark is None:
            return
        spark, self.spark = self.spark, None
        gw = spark.sparkContext._gateway
        proc = getattr(gw, "proc", None)
        try:
            spark.stop()
        except Py4JError:  # a call cut short by SIGTERM left the gateway unusable
            pass
        gw.shutdown()
        from pyspark import SparkContext

        SparkContext._gateway = SparkContext._jvm = None  # a later start launches anew
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        deadline = time.time() + 20
        while harness.descendants() and time.time() < deadline:
            time.sleep(0.2)
        for pid in harness.descendants():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while harness.descendants() and time.time() < deadline + 10:
            time.sleep(0.2)

    # -- set-up --------------------------------------------------------------

    def prepare_lexicon(self, repeats: int = SETUP_REPEATS):
        """Prepare the linking lexicon ``repeats`` times (the first call
        also warms the fresh JVM); returns it and the median time."""
        from tera_spark.fixtures.transcripts import lexicon_spark_df
        from tera_spark.pipeline.link import prepare_lexicon

        times, lex = [], None
        for _ in range(repeats):
            t0 = time.time()
            lex = prepare_lexicon(lexicon_spark_df(self.spark))
            times.append(time.time() - t0)
        return lex, statistics.median(times)

    def corpus(self, workload: str):
        """Generate and write this run's corpus; returns (pandas, path)."""
        turns, hot = harness.CORPUS[workload]
        pdf = harness.gen_corpus(harness.fixture_seed(workload, self.args.seed), turns, hot)
        path = os.path.join(self.work, "corpus-" + workload)
        harness.write_corpus(pdf, path)
        return pdf, path

    def warm_udfs(self, lexicon) -> float:
        """Run extraction and linking, the program's Python UDFs, over a
        small corpus of their own; returns the seconds it took. In a
        fresh session the first build also starts the Python workers and
        loads the lexicon into them: its extract and link stages took
        twice a later build's, and that start-up cost moved with the
        host's state. A whole warm-up build would cost about 20 s per
        run, more than the run budget has."""
        from tera_spark.pipeline.extract import extract_mentions
        from tera_spark.pipeline.link import link_mentions

        _, path = self.corpus("build-warmup")
        t0 = time.time()
        linked, alias = link_mentions(extract_mentions(self.spark.read.parquet(path)), lexicon)
        linked.count()
        alias.count()
        return time.time() - t0

    # -- the layer composition ----------------------------------------------

    def compose(self, transcripts, lexicon, out_dir: str) -> None:
        """The traced build: extract → link → canonicalize → emit →
        rewrite → dedup → write, each through the program's public
        function, each layer's output materialized inside its span."""
        from tera_spark.operators.canonical import canonical_mapping
        from tera_spark.operators.triples import dedup, replace_entities
        from tera_spark.pipeline.extract import extract_mentions
        from tera_spark.pipeline.kg import build_triples
        from tera_spark.pipeline.link import link_mentions
        from tera_spark.pipeline.run import N_BUCKETS
        from tera_spark.sources.writers import write_table

        tr = self.tracer
        with tr.span("pipeline.extract"):
            mentions = extract_mentions(transcripts).localCheckpoint()
        with tr.span("pipeline.link"):
            linked, alias = link_mentions(mentions, lexicon)
            linked, alias = linked.localCheckpoint(), alias.localCheckpoint()
        with tr.span("operators.canonical"):
            cmap = canonical_mapping(alias).localCheckpoint()
        with tr.span("pipeline.kg"):
            emitted = build_triples(transcripts, linked, deduplicate=False).localCheckpoint()
        with tr.span("operators.triples.replace"):
            replaced = replace_entities(
                emitted, cmap, broadcast_mapping=True, deduplicate=False
            ).localCheckpoint()
        with tr.span("operators.triples.dedup"):
            final = dedup(replaced).localCheckpoint()
        with tr.span("sources.writers"):
            write_table(final, os.path.join(out_dir, "triples"),
                        bucket_by=(N_BUCKETS, "subject"))
        self._layer_counts(transcripts, mentions, linked, alias, cmap,
                           emitted, final, out_dir)

    def _layer_counts(self, transcripts, mentions, linked, alias, cmap,
                      emitted, final, out_dir) -> None:
        from pyspark.sql import functions as F

        L = self.layer
        turns = transcripts.count()
        L["pipeline.extract.mentions"] = mentions.count()
        methods = {r[0]: r[1] for r in linked.groupBy("link_method").count().collect()}
        L["pipeline.link.linked_rows"] = sum(methods.values())
        terms = linked.filter(F.col("kind") == "term").count()
        L["pipeline.link.fuzzy_share"] = methods.get("fuzzy", 0) / terms if terms else 0.0
        L["pipeline.link.alias_edges"] = alias.count()
        L["operators.canonical.map_rows"] = cmap.count()
        emitted_n = emitted.count()
        L["pipeline.kg.triples_emitted"] = emitted_n
        L["pipeline.kg.dedup_keep_ratio"] = final.count() / emitted_n if emitted_n else 0.0
        files, nbytes = harness.dir_stats(os.path.join(out_dir, "triples"))
        L["sources.writers.files"] = files
        L["sources.writers.mb"] = nbytes / (1024 * 1024)
        tr = self.tracer
        secs = {n: sum(tr.self_seconds(i) for i in tr.by_name(n)) for n in LAYER_SPANS}
        L["pipeline.extract.s"] = secs["pipeline.extract"]
        L["pipeline.extract.turns_per_s"] = turns / secs["pipeline.extract"]
        L["pipeline.link.s"] = secs["pipeline.link"]
        L["operators.canonical.s"] = secs["operators.canonical"]
        L["pipeline.kg.s"] = secs["pipeline.kg"]
        L["operators.triples.replace_s"] = secs["operators.triples.replace"]
        L["operators.triples.dedup_s"] = secs["operators.triples.dedup"]
        L["sources.writers.s"] = secs["sources.writers"]

    # -- workloads -----------------------------------------------------------

    def build(self) -> dict:
        """One full ``run_pipeline`` into a fresh directory, checked with
        pandas. The traced run also composes the same layers unstaged,
        which must give the same triples."""
        from checks import check_build, check_content
        from tera_spark.pipeline.run import run_pipeline

        session_s = self.start(self.eventlog)
        lexicon, prep_s = self.prepare_lexicon()
        warmup_s = self.warm_udfs(lexicon)
        pdf, path = self.corpus("build")
        transcripts = self.spark.read.parquet(path)
        out = os.path.join(self.work, "graph")
        with self.tracer.span("pipeline.run"):
            t0 = time.time()
            res = run_pipeline(self.spark, transcripts, lexicon, out)
            build_s = time.time() - t0
        self.mem.settle(self.spark._jvm)
        problems = check_build(out, pdf, res.metrics) + check_content(out, pdf)
        turns = len(pdf)
        e2e = {
            "setup_s": session_s + prep_s,
            "op_ms": build_s * 1000,
            "throughput_per_s": turns / build_s,
            "graph_bytes_per_turn": harness.dir_stats(out)[1] / turns,
        }
        L = self.layer
        L["pipeline.link.prepare_s"] = prep_s
        L["pipeline.run.warmup_s"] = warmup_s
        L["pipeline.run.s"] = build_s
        for m in res.metrics:
            L[f"pipeline.run.stage.{m['stage']}_s"] = m["seconds"]
            L[f"pipeline.run.stage.{m['stage']}_rows"] = m["rows_out"]
        attempted, failed = 1, 1 if problems else 0
        if self.tracer.enabled:
            composed = os.path.join(self.work, "composed")
            self.compose(transcripts, lexicon, composed)
            T = harness.TRIPLE_COLS
            want = harness.fingerprint(harness.read_table(os.path.join(out, "triples")), T)
            got = harness.fingerprint(harness.read_table(os.path.join(composed, "triples")), T)
            if got != want:
                problems.append(f"composition fingerprint {got} != run_pipeline {want}")
                failed = 1
            L["trace.op_ms"] = e2e["op_ms"]
        for p in problems:
            print("check failed:", p, file=sys.stderr)
        return {"attempted": attempted, "failed": failed, "e2e": e2e}

    def maintain(self, tracer, lexicon, batch, gone: str, graph: str, compacted: str) -> dict:
        """Apply ``batch`` to the graph, forget conversation ``gone``, then
        ``compact`` a copy of the result into ``compacted``; returns the
        per-layer metrics of the three calls."""
        from tera_spark.pipeline.forget import run_pipeline_forget
        from tera_spark.pipeline.incremental import compact, run_pipeline_incremental

        L = {}
        with tracer.span("pipeline.incremental.apply") as sp:
            res = run_pipeline_incremental(self.spark, batch, lexicon, graph)
        L["pipeline.incremental.apply.s"] = sp.seconds
        for name, sec in _phases(res.metrics).items():
            L[f"pipeline.incremental.apply.{name}_s"] = sec
        with tracer.span("pipeline.forget") as sp:
            res = run_pipeline_forget(self.spark, [gone], lexicon, graph)
        L["pipeline.forget.s"] = sp.seconds
        for name, sec in _phases(res.metrics).items():
            L[f"pipeline.forget.{name}_s"] = sec
        L["pipeline.incremental.committed_batches"] = len(harness.committed_batch_dirs(graph))
        L["pipeline.incremental.delta_files"] = harness.dir_stats(
            os.path.join(graph, "_batches"))[0]
        shutil.copytree(graph, compacted)
        with tracer.span("pipeline.incremental.compact") as sp:
            compact(self.spark, compacted)
        L["pipeline.incremental.compact_s"] = sp.seconds
        return L

    def query_cache(self) -> str:
        """The query graph and its references, built once per checkout and
        program version in a process of its own: ``run_pipeline`` over
        the base corpus, one incremental apply, one forget (so ``read_live``
        merges two uncompacted delta batches), a compacted copy, and a
        from-scratch ``run_pipeline`` over base ∪ batch − forgotten. The
        maintenance calls are traced; their per-layer metrics are kept in
        ``maintain.json``.

        The separate process keeps this one's PySpark state fresh: a UDF
        object is bound to the first session that used it, so a session
        started after another one was stopped cannot run the program's
        UDFs."""
        cache = self._cache_dir()
        if not os.path.isdir(cache):
            _run_child([sys.executable, os.path.abspath(__file__), "--workload", "query",
                        "--seed", "0", "--seconds", "0", "--cache-only"])
        return cache

    @staticmethod
    def _cache_dir() -> str:
        return os.path.join(ROOT, ".perfbench", "cache", "query-" + harness.source_digest(ROOT))

    def build_query_cache(self) -> None:
        cache = self._cache_dir()
        if os.path.isdir(cache):
            return
        for stale in glob.glob(cache + ".tmp-*"):  # left by a killed build
            shutil.rmtree(stale, ignore_errors=True)
        tmp = f"{cache}.tmp-{os.getpid()}"
        try:
            self._build_query_cache(tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        os.rename(tmp, cache)

    def _build_query_cache(self, tmp: str) -> None:
        from tera_spark.pipeline.forget import run_pipeline_forget
        from tera_spark.pipeline.incremental import run_pipeline_incremental
        from tera_spark.pipeline.run import run_pipeline

        base, batch = harness.query_base()
        gone = harness.forget_pick(base, harness.QUERY_BASE_SEED, harness.CORPUS["query"][1])
        scratch = harness.without(pd.concat([base, batch], ignore_index=True), gone)
        for name, pdf in (("base", base), ("batch", batch), ("scratch", scratch)):
            harness.write_corpus(pdf, os.path.join(tmp, "inputs", name))

        def read(name):
            return self.spark.read.parquet(os.path.join(tmp, "inputs", name))

        graph = os.path.join(tmp, "graph")
        tracer, eventlog = tracing.Tracer(), os.path.join(tmp, "eventlog")
        self.start(eventlog)
        try:
            lexicon, _ = self.prepare_lexicon(repeats=1)
            run_pipeline(self.spark, read("base"), lexicon, graph)
            layer = self.maintain(tracer, lexicon, read("batch"), gone, graph,
                                  os.path.join(tmp, "compacted"))
            run_pipeline(self.spark, read("scratch"), lexicon, os.path.join(tmp, "reference"))
            problems = self._check_maintained(tmp)
        finally:
            self.stop()
        with open(os.path.join(tmp, "problems.json"), "w") as fh:
            json.dump(problems, fh)
        act = tracing.read_eventlog(eventlog)
        for name in MAINTAIN_SPANS:
            windows = [(tracer.spans[i].start, tracer.spans[i].end) for i in tracer.by_name(name)]
            for c, v in tracing.spark_counters(act, windows, self.cores).items():
                layer[f"spark.{name}.{c}"] = v
        with open(os.path.join(tmp, "maintain.json"), "w") as fh:
            json.dump(layer, fh)
        with open(os.path.join(tmp, "turns"), "w") as fh:
            fh.write(str(len(base) + len(batch)))
        shutil.rmtree(os.path.join(tmp, "inputs"))
        shutil.rmtree(eventlog)

    def _check_maintained(self, cache: str) -> list[str]:
        """The maintained graph, live (merged on read) and compacted, must
        equal the from-scratch one."""
        from tera_spark.pipeline.incremental import read_live

        graph, problems = os.path.join(cache, "graph"), []
        for t, key in (("triples", TRIPLE_KEY), ("edges", EDGE_KEY), ("nodes", None)):
            want = harness.read_table(os.path.join(cache, "reference", t))
            cols = list(want.columns)
            live = (harness.live_table(graph, t, key) if key
                    else read_live(self.spark, graph, t).toPandas())
            compacted = harness.read_table(os.path.join(cache, "compacted", t))
            for name, got in (("live", live), ("compacted", compacted)):
                if harness.fingerprint(got, cols) != harness.fingerprint(want, cols):
                    problems.append(f"{name} {t} differ from the from-scratch graph")
        return problems

    def query(self) -> dict:
        """A closed-loop client over fresh ``read_live`` frames of a graph
        with two uncompacted delta batches (an apply and a forget); every
        answer checked against the from-scratch graph. The traced run runs
        the same plan with spans and reports the maintenance metrics
        measured when the graph was built."""
        import queries

        cache = self.query_cache()
        with open(os.path.join(cache, "turns")) as fh:
            turns = int(fh.read())
        session_s = self.start(self.eventlog)
        graph = os.path.join(self.work, "graph")
        times = []
        for _ in range(SETUP_REPEATS):
            shutil.rmtree(graph, ignore_errors=True)
            t0 = time.time()
            shutil.copytree(os.path.join(cache, "graph"), graph)
            times.append(time.time() - t0)

        # the maintained graph was checked against the from-scratch one
        # when it was built (the graph is the same for every seed); its
        # problems count in every run, as does an incomplete copy
        ref_dir = os.path.join(cache, "reference")
        with open(os.path.join(cache, "problems.json")) as fh:
            problems = json.load(fh)
        if harness.dir_stats(graph) != harness.dir_stats(os.path.join(cache, "graph")):
            problems.append("the copy of the query graph is incomplete")
        for p in problems:
            print("check failed:", p, file=sys.stderr)
        g = harness.read_table(os.path.join(ref_dir, "triples"), harness.TRIPLE_COLS)
        ref = queries.Reference(g)
        warm = len(queries.CLASSES)
        plan = queries.plan(g, self.args.seed, warm + MAX_QUERIES)

        # warm-up: one query of each class, checked but neither timed nor
        # traced. In a fresh JVM the first round took about twice the
        # later ones (its first query 8-10 s); timed, those six samples
        # made up a third of the 20 and moved the median between runs.
        _, warm_failed = self._query_loop(plan[:warm], ref, tracing.NullTracer())
        lat, failed = self._query_loop(plan[warm:], ref, self.tracer)
        failed += warm_failed
        self.mem.settle(self.spark._jvm)
        failed += 1 if problems else 0
        e2e = {
            "setup_s": session_s + statistics.median(times),
            "op_ms": harness.percentile(lat, 0.5) * 1000,
            "throughput_per_s": len(lat) / sum(lat),
            "graph_bytes_per_turn": harness.dir_stats(graph)[1] / turns,
        }
        if self.tracer.enabled:
            with open(os.path.join(cache, "maintain.json")) as fh:
                self.layer.update(json.load(fh))
            self.layer["trace.op_ms"] = e2e["op_ms"]
        return {"attempted": 1 + warm + len(lat), "failed": failed, "e2e": e2e}

    def _query_loop(self, plan, ref, tr):
        """Issue ``plan`` until MIN_QUERIES have run for ``--seconds``;
        returns the latencies and the failed count."""
        import queries
        from tera_spark.pipeline.incremental import read_live

        graph = os.path.join(self.work, "graph")
        lat, failed, rows_by = [], 0, {}
        t_start = time.time()
        for cls, p in plan:
            if len(lat) >= MIN_QUERIES and time.time() - t_start >= self.args.seconds:
                break
            pre = _query_prefix(cls)
            t0 = time.time()
            try:
                with tr.span("query"):
                    with tr.span("pipeline.incremental.read_live"):
                        live = read_live(self.spark, graph, "triples")
                    with tr.span(pre + ".compile"):
                        df = queries.build_query(live, cls, p)
                    with tr.span(pre + ".exec"):
                        rows = df.collect()
                lat.append(time.time() - t0)
                if queries.answer(rows, cls) != ref.answer(cls, p):
                    failed += 1
                    print(f"check failed: {cls}({p}) answer differs", file=sys.stderr)
                rows_by.setdefault(cls, []).append(len(rows))
            except Exception as e:  # a failed query is counted, not fatal
                lat.append(time.time() - t0)
                failed += 1
                print(f"query {cls}({p}) raised: {e!r}", file=sys.stderr)
        if tr.enabled:
            L = self.layer
            for cls in queries.CLASSES:
                pre = _query_prefix(cls)
                for part in ("compile", "exec"):
                    ms = [tr.spans[i].seconds * 1000 for i in tr.by_name(f"{pre}.{part}")]
                    L[f"{pre}.{part}_ms"] = statistics.median(ms) if ms else 0.0
                L[f"{pre}.rows"] = statistics.median(rows_by.get(cls, [0]))
            rl = [tr.spans[i].seconds * 1000 for i in tr.by_name("pipeline.incremental.read_live")]
            L["pipeline.incremental.read_live_ms"] = statistics.median(rl)
        return lat, failed

    # -- per-layer metrics ---------------------------------------------------

    def spark_layer(self) -> None:
        act = tracing.read_eventlog(self.eventlog)
        tr = self.tracer
        for name in COUNTER_SPANS:
            windows = [(tr.spans[i].start, tr.spans[i].end) for i in tr.by_name(name)]
            vals = tracing.spark_counters(act, windows, self.cores) if windows else {}
            for c in tracing.SPARK_COUNTERS:
                self.layer[f"spark.{name}.{c}"] = vals.get(c, 0)


def _emit(spec: list[dict], values: dict, default=None) -> dict:
    """Every metric of ``spec`` with its unit; a per-layer metric a
    workload does not exercise reads ``default`` (0)."""
    out = {}
    for m in spec:
        v = values[m["name"]] if default is None else values.get(m["name"], default)
        out[m["name"]] = {"value": float(v), "unit": m["unit"]}
    return out


def _run_child(cmd: list[str]) -> None:
    """Run ``cmd`` to its end, its stdout sent to stderr; a terminated
    parent terminates the child and waits for it."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr)
    try:
        rc = proc.wait()
    except BaseException:
        proc.terminate()
        proc.wait()
        raise
    if rc:
        raise RuntimeError(f"{cmd} exited with {rc}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["build", "query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cache-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    try:
        import pyspark  # noqa: F401
        import tera_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    # a terminated run still stops Spark and removes its files (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    run = Run(args, work)
    cpu0 = harness.cpu_times()
    if args.cache_only:
        try:
            run.build_query_cache()
        finally:
            try:
                run.stop()
            finally:
                shutil.rmtree(work, ignore_errors=True)
        return 0
    try:
        with run.mem:
            # built by the first run in a checkout, whichever workload it
            # runs, so that the long run is the first one
            run.query_cache()
            run.mem.reset()
            out = getattr(run, args.workload)()
        if args.trace:
            run.stop()
            run.spark_layer()
    finally:
        try:
            run.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    host = harness.host_window(cpu0, harness.cpu_times(), run.cores)
    print(json.dumps({"host": host}))
    if args.trace:
        run.layer.update({f"host.{k}": v for k, v in host.items()})
        run.layer["mem.python_peak_mb"] = run.mem.python_kb / 1024
        run.layer["mem.jvm_live_mb"] = run.mem.jvm_kb / 1024
        metrics = _emit(spec["per_layer"], run.layer, default=0)
    else:
        metrics = _emit(spec["end_to_end"], out["e2e"])
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
