#!/usr/bin/env python3
"""Benchmark of the searchengine_spark engine on a seeded Zipf corpus.

Run from the repository root:

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Workloads (BENCHMARK.json records why each was chosen):

* ``interactive``: one client in a closed loop, ``search(...)`` plus
  ``.collect()`` with default arguments, over a Zipf-popular stream;
  then route-agreement checks through ``search(local=False)``,
  ``batch_search`` and ``ShardedSearchEngine.search``.
* ``build``: ``build_index`` of a seeded corpus in a warmed JVM.

Only calls into the engine's public API are timed. The host's speed
drifts by tens of percent from run to run, and raw wall time drifts
with it (perfbench/RATIONALE.md), so the gated ``op_wall_ms`` is taken
out of the host's state. For ``build`` it is the build's wall time less
the share of the host's busy CPU time the hypervisor stole during the
window. For ``interactive`` it is the query p50 scaled by an
engine-free control unit timed between the queries. Raw wall times and
CPU time per operation are in the report.

``setup_s`` is the median of SETUPS cold set-ups, each in a fresh
process with a fresh JVM (first in child processes that only set up,
then the run's own), each less the share stolen while it ran.

The last line of stdout is the result object; the line before it is
a report with the run context, raw times, stolen shares, tails and
counts. ``--trace 1`` prints per-layer metrics instead of
end-to-end ones and writes the spans to ``.perfbench/``.

The interactive workload queries one index over a fixed corpus. It is
built once per checkout and engine source, in a separate process, and
kept under ``.perfbench/``; the seed drives the query streams. The
build workload's corpus comes from the seed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

# Imported before any set-up is timed, in the run and in its set-up
# children alike.
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, ROOT)

from perfbench import checks, gen, runtime  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

WORKLOADS = ("interactive", "build")
K = 10
# Cold set-ups per run; setup_s is their median. Each costs 9-15 s on
# a 4 vCPU VM, so a third would lengthen a run by about a fifth.
SETUPS = 2

# The interactive workload's index: a fixed corpus, and three shards
# of it for the sharded check.
QUERY_SEED, QUERY_DOCS, SHARDS = 7, 20_000, 3
POOL, STREAM_LEN, WARM_QUERIES = 1_000, 50_000, 60
# Sized to keep a build run near a minute; about half of this build is
# still fixed stage cost (RATIONALE.md).
BUILD_DOCS, WARM_BUILD_DOCS = 6_000, 200
# Route-agreement samples: auto vs batch_search, auto vs local=False,
# sharded vs single index.
SAMPLE, DIST_SAMPLE, SHARD_SAMPLE = 20, 3, 10
# The interactive window times a control unit after every CONTROL_EVERY
# queries. op_wall_ms scales the query p50 to a host on which the
# control's p50 is CONTROL_NOMINAL_MS, about its time on an idle 4 vCPU
# VM (RATIONALE.md).
CONTROL_EVERY, CONTROL_NOMINAL_MS = 4, 18.0

BUILD_STAGES = (
    "tokenize_cache", "doctable", "tf", "stats", "lexicon", "postings", "block_summary",
)
INDEX_DIRS = ("postings", "lexicon", "doctable", "block_summary")


def engine_config(settings):
    from searchengine_spark.config import EngineConfig

    return EngineConfig(shuffle_partitions=settings.shuffle_partitions)


def source_digest() -> str:
    """Digest of everything that shapes the cached query index: the
    engine's source, the benchmark's launcher, generator and settings
    (shuffle partitions follow nproc), so a stale index is never reused."""
    h = hashlib.sha1(f"g{gen.GEN_VERSION}-{QUERY_SEED}-{QUERY_DOCS}-{SHARDS}".encode())
    h.update(json.dumps(runtime.Settings().as_dict(), sort_keys=True).encode())
    paths = [os.path.join(HERE, f) for f in ("run.py", "runtime.py", "gen.py")]
    pkg = os.path.join(ROOT, "searchengine_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        paths += [os.path.join(dirpath, f) for f in sorted(files) if f.endswith(".py")]
    for path in paths:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def prepare_query_index(out: str, corpus: str) -> None:
    """Build the shared single and sharded indexes into ``out`` (run in
    its own process, so the query JVM never saw a build)."""
    from searchengine_spark.index.builder import build_index
    from searchengine_spark.index.sharded import build_sharded_index

    settings = runtime.Settings()
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    spark = runtime.make_session(settings, ROOT, SCRATCH)
    try:
        cfg = engine_config(settings)
        build_index(spark, spark.read.parquet(corpus), os.path.join(tmp, "single"), cfg, resume=False)
        build_sharded_index(
            spark, spark.read.parquet(corpus), os.path.join(tmp, "sharded"), SHARDS, cfg, resume=False
        )
    finally:
        runtime.stop(spark)
    os.replace(tmp, out)


def helper(*argv: str, timeout: float) -> str:
    """Run this script in a child process; returns its stdout."""
    return subprocess.run(
        [sys.executable, os.path.abspath(__file__), *argv],
        check=True,
        stdout=subprocess.PIPE,
        text=True,
        timeout=timeout,
    ).stdout


def corpus(seed: int, n_docs: int) -> str:
    """The cached corpus, generated in a child process so the
    generator's memory never counts toward this process's peak RSS."""
    path = gen.corpus_path(os.path.join(SCRATCH, "inputs"), seed, n_docs)
    if not os.path.isdir(path):
        helper("--make-corpus", str(seed), str(n_docs), timeout=120)
    return path


def query_index() -> tuple[str, str]:
    """The interactive workload's corpus and index, building the index
    in a child process when the cache has none for this source digest.
    Indexes of other digests are removed after a build."""
    path = corpus(QUERY_SEED, QUERY_DOCS)
    root = os.path.join(SCRATCH, "index")
    out = os.path.join(root, source_digest())
    if not os.path.isdir(out):
        os.makedirs(root, exist_ok=True)
        helper("--make-index", out, timeout=800)
        for name in os.listdir(root):
            if name != os.path.basename(out):
                shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    return path, out


class Run:
    """State shared by the phases of one run."""

    def __init__(self, args):
        self.args = args
        self.settings = runtime.Settings()
        self.ops_ms: list[float] = []  # timed operations; traced queries excluded
        self.control_ms: list[float] = []
        self.items_per_op = 1
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.layers: dict[str, float] = {}
        self.report: dict = {}
        self.index_ratio = 0.0
        self.peak_rss_mb = 0.0

    def fail(self, what: str) -> None:
        """Count a failed operation and mark the run incorrect."""
        print(f"perfbench: failed: {what}", file=sys.stderr)
        self.failed += 1
        self.correct = False


# ---------------------------------------------------------------- set-up

def bring_up(run: Run, inputs: dict):
    """One cold set-up in a process that has not started Spark yet:
    importing pyspark and the engine, launching the JVM and the session,
    then what the workload's first timed call needs. Returns
    (spark, engine or None)."""
    spark = runtime.make_session(run.settings, ROOT, SCRATCH)
    if run.args.workload == "build":
        runtime.warm_workers(spark, run.settings.slots)
        return spark, None
    from searchengine_spark.query.engine import SearchEngine

    engine = SearchEngine(spark, os.path.join(inputs["index"], "single"))
    engine.search(inputs["warm"][0]).collect()
    return spark, engine


def timed_setup(run: Run, inputs: dict):
    """bring_up() timed: (spark, engine, (wall seconds, stolen share))."""
    host0, t0 = runtime.host_cpu(), time.perf_counter()
    spark, engine = bring_up(run, inputs)
    wall = time.perf_counter() - t0
    return spark, engine, (wall, runtime.steal_share(host0, runtime.host_cpu()))


def child_setup(args) -> tuple[float, float]:
    """(wall seconds, stolen share) of one cold set-up, made in a child
    process that stops its JVM and exits before this process starts
    its own."""
    out = helper(
        "--setup-only", "--workload", args.workload, "--seed", str(args.seed), timeout=60
    )
    return tuple(json.loads(out.strip().splitlines()[-1])["setup"])


# ------------------------------------------------------------- workloads

def timed_query(tracer: Tracer, engine, q: str, traced: bool):
    """search(q) plus collect(); returns (ms, rows)."""
    if traced:
        with tracer.call("tokenize_query"):
            engine.tokenize_query(q)
        with tracer.call("query") as span:
            with tracer.call("search"):
                df = engine.search(q)
            with tracer.call("collect"):
                rows = df.collect()
        return span.ms, rows
    t0 = time.perf_counter()
    rows = engine.search(q).collect()
    return (time.perf_counter() - t0) * 1000.0, rows


def interactive(run: Run, spark, engine, tracer: Tracer, inputs: dict) -> None:
    for q in inputs["warm"]:
        engine.search(q).collect()
    stream = gen.interactive_stream(run.args.seed, POOL, STREAM_LEN)
    done: list[tuple[str, list]] = []
    traced_ms: list[float] = []
    control = runtime.DriverControl(spark)
    for _ in range(20):
        control.run_ms()
    deadline = time.perf_counter() + run.args.seconds
    with Window(run, spark) as window:
        for i, q in enumerate(stream):
            if time.perf_counter() >= deadline:
                break
            traced = tracer.enabled and i % 2 == 0
            run.attempted += 1
            try:
                ms, rows = timed_query(tracer, engine, q, traced)
            except Exception:  # an engine error is a failed operation
                traceback.print_exc()
                run.fail(f"query {q!r} raised")
                continue
            (traced_ms if traced else run.ops_ms).append(ms)
            done.append((q, rows))
            if i % CONTROL_EVERY == CONTROL_EVERY - 1:
                window.control(control)
    run.report["repeated_query_share"] = round(gen.repeated_share(stream[: len(done)]), 4)
    run.report["queries"] = len(done)
    tail = checks.tail(run.ops_ms)
    run.report["query_tail_ms"] = (
        {"q": tail[0], "value": tail[1], "samples": len(run.ops_ms)} if tail else None
    )
    if traced_ms and run.ops_ms:
        run.report["trace_query_p50_delta_ms"] = checks.median(traced_ms) - checks.median(run.ops_ms)

    td = gen.TermDocs(QUERY_SEED, QUERY_DOCS)
    for q, rows in done:
        if not checks.topk_ok(rows, K, td.matches(q)):
            run.fail(f"malformed top-{K} for {q!r}")
    sample = gen.check_sample(run.args.seed, SAMPLE)
    run.attempted += 1
    try:
        batch_rows = batch_job(engine, tracer, [(f"q{i}", q) for i, q in enumerate(sample)])
    except Exception:  # an engine error is a failed operation
        traceback.print_exc()
        run.fail("batch_search over the sample raised")
        return
    for i, q in enumerate(sample):
        run.attempted += 1
        rows = engine.search(q).collect()
        auto = checks.score_bits(rows)
        routes = [checks.score_bits(batch_rows[f"q{i}"])]
        if i < DIST_SAMPLE:
            with tracer.call("search.distributed"):
                routes.append(checks.score_bits(engine.search(q, local=False).collect()))
        if not checks.topk_ok(rows, K, td.matches(q)) or any(r != auto for r in routes):
            run.fail(f"routes disagree on {q!r}")
    sharded_check(run, spark, engine, tracer, inputs, sample[:SHARD_SAMPLE])


def sharded_check(run: Run, spark, engine, tracer: Tracer, inputs: dict, sample) -> None:
    """Compares ShardedSearchEngine with the single index bit for bit.
    The queries where they differ go to the report line as
    ``sharded_mismatches``, not to the failed operations: they are a
    known defect of the engine, shard idf from Python math.log10 against
    Spark's log10 (index/sharded.py), and a benchmark's workloads must
    not fail. A sharded search that raises is a failed operation."""
    from searchengine_spark.index.sharded import ShardedSearchEngine

    sharded = ShardedSearchEngine(spark, os.path.join(inputs["index"], "sharded"))
    mismatches = []
    for q in sample:
        run.attempted += 1
        try:
            with tracer.call("sharded.search"):
                df = sharded.search(q, algo="maxscore")
            with tracer.call("sharded.collect"):
                got = checks.score_bits(df.collect())
        except Exception:  # an engine error is a failed operation
            traceback.print_exc()
            run.fail(f"sharded search for {q!r} raised")
            continue
        if got != checks.score_bits(engine.search(q).collect()):
            print(f"perfbench: sharded result differs from the single index for {q!r}", file=sys.stderr)
            mismatches.append(q)
    run.report["sharded_mismatches"] = {"queries": mismatches, "of": len(sample)}


def batch_job(engine, tracer: Tracer, queries: list[tuple[str, str]]) -> dict[str, list]:
    """One batch_search(...).collect(); returns the rows by query id."""
    with tracer.call("batch"):
        with tracer.call("batch_search"):
            df = engine.batch_search(queries, k=K)
        with tracer.call("batch_collect"):
            rows = df.collect()
    by_q: dict[str, list] = {qid: [] for qid, _ in queries}
    for r in rows:
        by_q[r["query_id"]].append((r["rank"], r["doc_id"], r["score"]))
    for v in by_q.values():
        v.sort()
    return by_q


def build(run: Run, spark, engine, tracer: Tracer, inputs: dict) -> None:
    from searchengine_spark.index.builder import build_index

    run.items_per_op = BUILD_DOCS
    cfg = engine_config(run.settings)
    work = os.path.join(SCRATCH, "work")
    shutil.rmtree(work, ignore_errors=True)
    build_index(spark, spark.read.parquet(inputs["warm_corpus"]), os.path.join(work, "warm"), cfg, resume=False)

    out = os.path.join(work, "index")
    manifests = []
    deadline = time.perf_counter() + run.args.seconds
    with Window(run, spark):
        while not run.ops_ms or time.perf_counter() < deadline:
            shutil.rmtree(out, ignore_errors=True)
            corpus = spark.read.parquet(inputs["corpus"])
            run.attempted += 1
            try:
                with tracer.call("build_index") as span:
                    manifests.append(build_index(spark, corpus, out, cfg, resume=False))
            except Exception:  # an engine error is a failed operation
                traceback.print_exc()
                run.fail("build_index raised")
                break
            run.ops_ms.append(span.ms)
    run.report["builds"] = len(run.ops_ms)
    if not manifests:
        return

    table = gen.corpus_table(run.args.seed, BUILD_DOCS)
    lens = gen.doc_lengths(run.args.seed, BUILD_DOCS)
    if not checks.doctable_ok(pq.read_table(os.path.join(out, "doctable")), table, lens):
        run.fail("doctable rows differ from the corpus rows")
    run.index_ratio = gen.dir_bytes(out) / gen.dir_bytes(inputs["corpus"])
    spans = tracer.named("build_index")
    if spans:
        last = manifests[-1]["stages"]
        run.layers["index.builder.build_s"] = checks.median([s.ms for s in spans]) / 1000.0
        for stage in BUILD_STAGES:
            run.layers[f"index.builder.stage.{stage}_s"] = float(last[stage]["duration_sec"])
        run.layers["index.builder.spark_jobs"] = float(spans[-1].jobs)
        run.layers["index.builder.spark_tasks"] = float(spans[-1].tasks)
    for d in INDEX_DIRS:
        run.layers[f"index.builder.bytes.{d}"] = float(gen.dir_bytes(os.path.join(out, d)))
    shutil.rmtree(work, ignore_errors=True)


WORKLOAD_FN = {"interactive": interactive, "build": build}


class Window:
    """The measured window: CPU of the process tree, JVM GC time and the
    host's stolen share over it, less what the control units timed
    inside it used; then the tree's peak RSS so far (before any output
    check allocates its oracle)."""

    def __init__(self, run: Run, spark):
        self.run, self.spark = run, spark
        self.cpu = runtime.CpuSplit(spark)
        self.excluded: dict[str, float] = {}

    def control(self, unit) -> None:
        before = self.snap()
        self.run.control_ms.append(unit.run_ms())
        after = self.snap()
        for k in after:
            self.excluded[k] = self.excluded.get(k, 0.0) + after[k] - before[k]

    def snap(self) -> dict[str, float]:
        out = {f"{k}.cpu_ms": v for k, v in self.cpu.sample().items()}
        out["jvm.gc_ms"] = runtime.gc_ms(self.spark)
        return out

    def __enter__(self):
        self.t0, self.host, self.start = time.perf_counter(), runtime.host_cpu(), self.snap()
        return self

    def __exit__(self, *exc):
        end = self.snap()
        run = self.run
        run.report["window_s"] = round(time.perf_counter() - self.t0, 3)
        run.report["steal_share"] = runtime.steal_share(self.host, runtime.host_cpu())
        n = max(1, run.attempted)
        for k, v in end.items():
            used = v - self.start[k] - self.excluded.get(k, 0.0)
            run.layers[f"runtime.{k}"] = used
            run.layers[f"runtime.{k}_per_op"] = used / n
        run.report["cpu_ms_per_op"] = sum(
            run.layers[f"runtime.{k}.cpu_ms_per_op"] for k in ("driver", "jvm", "workers")
        )
        split = self.cpu.peak_rss_mb()
        run.report["peak_rss_mb_split"] = {k: round(v, 1) for k, v in split.items()}
        run.peak_rss_mb = sum(split.values())
        return False


# ------------------------------------------------------------ per-layer

def per_layer_names() -> list[str]:
    names = [
        "functions.text.tokenize_query_ms",
        "query.engine.search_ms",
        "query.engine.search_tail_ms",
        "query.engine.collect_ms",
        "query.engine.collect_tail_ms",
        "query.engine.spark_jobs_per_query",
        "query.engine.local_route_share",
        "query.engine.batch_call_s",
        "query.engine.batch_collect_s",
        "query.engine.batch_spark_jobs",
        "query.engine.batch_spark_tasks",
        "index.builder.build_s",
        *(f"index.builder.stage.{s}_s" for s in BUILD_STAGES),
        "index.builder.spark_jobs",
        "index.builder.spark_tasks",
        *(f"index.builder.bytes.{d}" for d in INDEX_DIRS),
        "index.sharded.search_ms",
        "index.sharded.collect_ms",
        "index.sharded.spark_jobs_per_query",
    ]
    for name in ("driver.cpu_ms", "jvm.cpu_ms", "workers.cpu_ms", "jvm.gc_ms"):
        names += [f"runtime.{name}", f"runtime.{name}_per_op"]
    return names + ["trace.overhead_ms_per_call"]


def span_layers(run: Run, tracer: Tracer, inputs: dict) -> None:
    """Per-layer numbers from the spans; a layer the workload did not
    call reports 0."""
    L = run.layers

    def ms(name):
        return [s.ms for s in tracer.named(name)]

    def p50(xs):
        return checks.median(xs) if xs else 0.0

    def tail(xs):
        t = checks.tail(xs) if xs else None
        return t[1] if t else 0.0

    L["functions.text.tokenize_query_ms"] = p50(ms("tokenize_query"))
    L["query.engine.search_ms"] = p50(ms("search"))
    L["query.engine.search_tail_ms"] = tail(ms("search"))
    L["query.engine.collect_ms"] = p50(ms("collect"))
    L["query.engine.collect_tail_ms"] = tail(ms("collect"))
    queries = tracer.named("query")
    if queries:
        L["query.engine.spark_jobs_per_query"] = sum(s.jobs for s in queries) / len(queries)
        L["query.engine.local_route_share"] = sum(s.jobs == 0 for s in queries) / len(queries)
    jobs = tracer.named("batch")
    if jobs:
        L["query.engine.batch_call_s"] = p50(ms("batch_search")) / 1000.0
        L["query.engine.batch_collect_s"] = p50(ms("batch_collect")) / 1000.0
        L["query.engine.batch_spark_jobs"] = p50([s.jobs for s in jobs])
        L["query.engine.batch_spark_tasks"] = p50([s.tasks for s in jobs])
        run.report["batch_jobs_tasks"] = [(s.jobs, s.tasks) for s in jobs]
    searches = tracer.named("sharded.search")
    if searches:
        L["index.sharded.search_ms"] = p50(ms("sharded.search"))
        L["index.sharded.collect_ms"] = p50(ms("sharded.collect"))
        collects = tracer.named("sharded.collect")
        L["index.sharded.spark_jobs_per_query"] = (
            sum(s.jobs for s in searches + collects) / len(searches)
        )
    if "index" in inputs and "index.builder.bytes.postings" not in L:
        for d in INDEX_DIRS:
            L[f"index.builder.bytes.{d}"] = float(
                gen.dir_bytes(os.path.join(inputs["index"], "single", d))
            )
    noop, cost = Tracer(tracer.spark, True), []
    for _ in range(200):
        t0 = time.perf_counter()
        with noop.call("noop"):
            pass
        cost.append((time.perf_counter() - t0) * 1000.0)
    L["trace.overhead_ms_per_call"] = p50(cost)


# ------------------------------------------------------------------ main

def prepare_inputs(args) -> dict:
    """Generate or reuse the run's inputs. Every workload makes sure the
    shared query index exists, so whichever runs first in a checkout
    pays for building it."""
    query_corpus, index = query_index()
    if args.workload == "build":
        return {
            "corpus": corpus(args.seed, BUILD_DOCS),
            "warm_corpus": corpus(QUERY_SEED, WARM_BUILD_DOCS),
        }
    return {
        "corpus": query_corpus,
        "index": index,
        "warm": gen.warmup_queries(args.seed, WARM_QUERIES),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Child-process modes used by the run itself.
    ap.add_argument("--make-corpus", nargs=2, type=int, help=argparse.SUPPRESS)
    ap.add_argument("--make-index", help=argparse.SUPPRESS)
    ap.add_argument("--setup-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "searchengine_spark")):
        print(f"perfbench: no searchengine_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.make_corpus:
        gen.corpus_dir(os.path.join(SCRATCH, "inputs"), *args.make_corpus)
        return 0
    if args.make_index:
        prepare_query_index(args.make_index, corpus(QUERY_SEED, QUERY_DOCS))
        return 0
    if not args.workload:
        ap.error("--workload is required")
    run = Run(args)
    if args.setup_only:
        spark, _, setup = timed_setup(run, prepare_inputs(args))
        runtime.stop(spark)
        print(json.dumps({"setup": setup}))
        return 0
    problems = checks.selftest()
    if problems:
        print("perfbench: self-check failed: " + "; ".join(problems), file=sys.stderr)
        return 3

    inputs = prepare_inputs(args)
    steal0 = runtime.steal_s()
    # A traced run reports no setup_s, so it skips the child set-ups.
    setups = [] if args.trace else [child_setup(args) for _ in range(SETUPS - 1)]
    runtime.reset_peak_rss()
    spark, engine, setup = timed_setup(run, inputs)
    setups.append(setup)

    tracer = Tracer(spark, bool(args.trace))
    try:
        WORKLOAD_FN[args.workload](run, spark, engine, tracer, inputs)
        if args.workload != "build":
            single = os.path.join(inputs["index"], "single")
            run.index_ratio = gen.dir_bytes(single) / gen.dir_bytes(inputs["corpus"])
        if args.trace:
            span_layers(run, tracer, inputs)
            os.makedirs(SCRATCH, exist_ok=True)
            tracer.write(os.path.join(SCRATCH, f"trace-{args.workload}-s{args.seed}.json"))
    finally:
        runtime.stop(spark)

    if not run.ops_ms:
        print("perfbench: no operation completed", file=sys.stderr)
        return 1
    op_ms = checks.median(run.ops_ms)
    if run.control_ms:
        control_ms = checks.median(run.control_ms)
        run.report["control_p50_ms"] = control_ms
        op_wall_ms = op_ms * CONTROL_NOMINAL_MS / control_ms
    else:
        op_wall_ms = op_ms * (1.0 - run.report["steal_share"])
    run.report.update(
        workload=args.workload,
        seed=args.seed,
        traced=bool(args.trace),
        setup_wall_s=[round(w, 3) for w, _ in setups],
        setup_steal_share=[round(f, 4) for _, f in setups],
        steal_s=round(runtime.steal_s() - steal0, 2),
        context=runtime.context(run.settings, ROOT),
        op_p50_ms=op_ms,
        items_per_s=run.items_per_op * 1000.0 / op_ms,
    )
    if args.trace:
        metrics = {
            n: {"value": float(run.layers.get(n, 0.0)), "unit": unit_of(n)}
            for n in per_layer_names()
        }
    else:
        metrics = {
            "setup_s": {"value": checks.median([w * (1.0 - f) for w, f in setups]), "unit": "s"},
            "op_wall_ms": {"value": op_wall_ms, "unit": "ms"},
            "index_bytes_per_input_byte": {"value": run.index_ratio, "unit": "ratio"},
            "peak_rss_mb": {"value": run.peak_rss_mb, "unit": "MB"},
        }
    print(json.dumps({"report": run.report}))
    print(
        json.dumps(
            {
                "correct": run.correct,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def unit_of(name: str) -> str:
    if name.endswith("_ms") or name.endswith("_ms_per_op") or name.endswith("_ms_per_call"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if ".bytes." in name:
        return "bytes"
    if name.endswith("_share"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
