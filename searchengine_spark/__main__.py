"""Command-line entry points — the reference's three mains re-expressed:

  build   IndexBuilder.main (index build with flags)     Main.java / IndexBuilder.java:15
  query   one-shot query (scripting convenience)          Main.java:16-62
  repl    Main.main's interactive prompt loop over ONE    Main.java:27-62
          warm SparkSession + engine
  batch   TestPerformance.main (efficiency/effectiveness) TestPerformance.java:24

Usage (spark-submit or plain python):
  python -m searchengine_spark build --input /root/testdata/sf0.01 --index /tmp/idx
  python -m searchengine_spark query --index /tmp/idx --text "spark join" --k 10
  python -m searchengine_spark repl --index /tmp/idx
  python -m searchengine_spark batch --index /tmp/idx --queries q.tsv --mode efficiency
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def _spark(cpus: int | None):
    b = SparkSession.builder.appName("searchengine-spark")
    if cpus:
        b = b.master(f"local[{cpus}]").config(
            "spark.sql.shuffle.partitions", str(cpus)
        )
    return b.config("spark.sql.adaptive.enabled", "true").getOrCreate()


def cmd_build(args) -> None:
    from .config import EngineConfig
    from .index.builder import build_index
    from .sources.corpus import load_documents_as_corpus

    spark = _spark(args.cpus)
    cfg = EngineConfig(
        stopstem=not args.no_sws,
        skip_threshold=args.skip_threshold,
        positions=args.positions,
    )
    corpus = load_documents_as_corpus(spark, args.input)
    if args.shards and args.shards > 1:
        from .index.sharded import build_sharded_index

        rep = build_sharded_index(
            spark, corpus, args.index, args.shards, cfg,
            resume=not args.no_resume,
        )
        print(json.dumps(rep["manifest"]["stats"]))
        return
    manifest = build_index(spark, corpus, args.index, cfg, resume=not args.no_resume)
    print(json.dumps({s: v.get("duration_sec") for s, v in manifest["stages"].items()}))


def cmd_query(args) -> None:
    from .query.engine import SearchEngine

    spark = _spark(args.cpus)
    # a sharded index directory opens as N shards of the same engine
    engine = SearchEngine(spark, args.index)
    if args.phrase:
        result = engine.add_docno(engine.phrase_search(args.text, k=args.k))
    else:
        result = engine.search(
            args.text,
            k=args.k,
            mode="conjunctive" if args.conjunctive else "disjunctive",
            scorer=args.scorer,
            algo=args.algo,
            with_docno=True,
        )
    rows = result.collect()
    for r in sorted(rows, key=lambda r: r["rank"]):
        print(f"{r['rank']:>4}  {r['score']:>12.6f}  {r['doc_id']:>10}  {r['docno']}")


def run_repl(engine, in_stream, out_stream) -> None:
    """Interactive query loop mirroring the reference's Main.java:27-62
    prompt flow (query text -> c/d -> b/t -> [m/d] -> k in {10,20,100},
    'x' exits, empty query re-prompts) over ONE warm engine — no
    per-query SparkSession/index-load cost, unlike the one-shot `query`
    subcommand. Testable: streams are injected (scripted stdin in CI)."""

    def say(msg: str) -> None:
        print(msg, file=out_stream, flush=True)

    def ask(message: str, *options: str) -> str | None:
        while True:
            say(message)
            line = in_stream.readline()
            if not line:
                return None  # EOF
            text = line.strip().lower()
            if text in options:
                return text

    say("\n++++++++++++  SEARCH ENGINE  ++++++++++++\n")
    while True:
        say("\nInsert query (or press x to exit):")
        line = in_stream.readline()
        if not line:
            return  # EOF behaves like exit
        q = line.strip()
        if not q:
            say("Error: the query is empty. Please, retry.")
            continue
        if q == "x":
            return
        qtype = ask("Select Conjunctive (c) or Disjunctive (d)", "c", "d")
        if qtype is None:
            return
        score = ask("Select scoring type between bm25 (b) and tfidf (t):", "b", "t")
        if score is None:
            return
        algo = "d"
        if qtype == "d":
            algo = ask(
                "Select algorithm type between Max score (m) or DAAT (d) :",
                "m", "d",
            )
            if algo is None:
                return
        k = None
        while k is None:
            say("Insert number of results (10, 20 or 100):")
            line = in_stream.readline()
            if not line:
                return
            try:
                n = int(line.strip())
            except ValueError:
                continue
            if n in (10, 20, 100):
                k = n
        rows = engine.search(
            q,
            k=k,
            mode="conjunctive" if qtype == "c" else "disjunctive",
            scorer="bm25" if score == "b" else "tfidf",
            algo="maxscore" if algo == "m" else "daat",
            with_docno=True,
        ).collect()
        if not rows:
            say("No results.")
        for r in sorted(rows, key=lambda r: r["rank"]):
            say(
                f"{r['rank']:>4}  {r['score']:>12.6f}  {r['doc_id']:>10}  "
                f"{r['docno']}"
            )


def cmd_repl(args) -> None:
    from .query.engine import SearchEngine

    spark = _spark(args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    # the reference loads its whole index into RAM before the prompt
    # loop (Main.java / Query.java:62-72); warm() is the distributed
    # analogue, so interactive latency matches that usage pattern.
    engine = SearchEngine(spark, args.index).warm()
    run_repl(engine, sys.stdin, sys.stdout)


def cmd_stats(args) -> None:
    """Index report (the reference's Documentation Table-1/2 analogue):
    per-stage rows, on-disk bytes, build duration and rows/sec from the
    lineage manifest plus a directory walk — no Spark session needed."""
    import os

    idx = args.index.rstrip("/")
    with open(os.path.join(idx, "manifest.json")) as f:
        manifest = json.load(f)
    with open(os.path.join(idx, "stats.json")) as f:
        stats = json.load(f)
    out = {"index_dir": idx, "collection": stats, "stages": {}}
    for stage, entry in sorted(manifest.get("stages", {}).items()):
        path = os.path.join(idx, stage)
        n_bytes = 0
        if os.path.isdir(path):
            for root, _dirs, files in os.walk(path):
                n_bytes += sum(
                    os.path.getsize(os.path.join(root, fn)) for fn in files
                )
        out["stages"][stage] = {
            "rows": entry.get("rows"),
            "bytes": n_bytes or None,
            "duration_sec": entry.get("duration_sec"),
            "rows_per_sec": entry.get("rows_per_sec"),
            "files": len(entry.get("files", {})) or None,
        }
    print(json.dumps(out, indent=2))


def cmd_batch(args) -> None:
    from pyspark.sql import functions as F

    from .query.engine import SearchEngine
    from .query.trec import (
        batch_efficiency_report,
        efficiency_report,
        read_query_tsv,
        trec_run_df,
        write_trec_run,
    )

    spark = _spark(args.cpus)
    engine = SearchEngine(spark, args.index)
    queries = read_query_tsv(args.queries)
    if args.mode == "efficiency":
        print(json.dumps(efficiency_report(engine, queries, k=args.k, algo=args.algo)))
    elif args.mode == "throughput":
        print(json.dumps(
            batch_efficiency_report(engine, queries, k=args.k, algo=args.algo)
        ))
    else:
        raw = engine.batch_search(queries, k=args.k, algo=args.algo)
        if args.qrels:
            raw = raw.persist()
        run = trec_run_df(engine, queries, k=args.k, results=raw)
        write_trec_run(run, args.out)
        print(f"wrote {args.out}")
        if args.qrels:
            # native RR / nDCG@10 (the reference shells out to trec_eval)
            from .query.metrics import effectiveness_report as eff

            if args.qrels_key == "docno":
                # standard TREC qrels are docno-keyed: map docno ->
                # internal doc_id through the doctable (broadcast the
                # driver-sized qrels side)
                raw_q = spark.read.csv(
                    args.qrels, sep="\t",
                    schema="query_id string, docno string, rel int",
                )
                qrels = engine.doctable.select("doc_id", "docno").join(
                    F.broadcast(raw_q), "docno"
                ).select("query_id", "doc_id", "rel")
            else:
                qrels = spark.read.csv(
                    args.qrels, sep="\t",
                    schema="query_id string, doc_id long, rel int",
                )
            if qrels.limit(1).count() == 0:
                print(
                    "WARNING: no qrels rows matched the index "
                    f"(--qrels-key {args.qrels_key}; wrong key type?) — "
                    "metrics would be vacuously 0",
                    file=sys.stderr,
                )
            print(json.dumps(eff(raw, qrels, k=10)))


def main(argv=None) -> None:
    p = argparse.ArgumentParser(prog="searchengine_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--input", required=True)
    b.add_argument("--index", required=True)
    b.add_argument("--no-sws", action="store_true", help="disable stopword+stem")
    b.add_argument("--skip-threshold", type=int, default=1024)
    b.add_argument("--positions", action="store_true",
                   help="also build the positional index (phrase queries)")
    b.add_argument("--no-resume", action="store_true")
    b.add_argument("--shards", type=int, default=1,
                   help="build N self-contained shard indexes + manifest "
                   "(index/sharded.py); query/repl/batch open it as "
                   "N shards")
    b.add_argument("--cpus", type=int)
    b.set_defaults(fn=cmd_build)

    q = sub.add_parser("query")
    q.add_argument("--index", required=True)
    q.add_argument("--text", required=True)
    q.add_argument("--k", type=int, default=10, choices=[10, 20, 100])
    q.add_argument("--conjunctive", action="store_true")
    q.add_argument("--phrase", action="store_true",
                   help="exact-phrase query (needs an index built with --positions)")
    q.add_argument("--scorer", choices=["bm25", "tfidf"], default="bm25")
    q.add_argument("--algo", choices=["daat", "maxscore"], default="daat")
    q.add_argument("--cpus", type=int)
    q.set_defaults(fn=cmd_query)

    r = sub.add_parser("repl")
    r.add_argument("--index", required=True)
    r.add_argument("--cpus", type=int)
    r.set_defaults(fn=cmd_repl)

    s = sub.add_parser("stats")
    s.add_argument("--index", required=True)
    s.set_defaults(fn=cmd_stats)

    t = sub.add_parser("batch")
    t.add_argument("--index", required=True)
    t.add_argument("--queries", required=True, help="TSV: qid\\ttext")
    t.add_argument(
        "--mode",
        choices=["efficiency", "throughput", "effectiveness"],
        default="efficiency",
        help="efficiency: serial per-query latency; throughput: one-job "
        "amortized batch; effectiveness: TREC run file",
    )
    t.add_argument("--k", type=int, default=10)
    t.add_argument("--algo", choices=["daat", "maxscore"], default="daat")
    t.add_argument("--out", default="run.txt")
    t.add_argument("--qrels", help="TSV qid\\t<key>\\trel: also print native "
                   "RR/nDCG@10 (effectiveness mode only)")
    t.add_argument("--qrels-key", choices=["docno", "doc_id"], default="docno",
                   help="qrels key column: docno (standard TREC, mapped "
                   "through the doctable) or internal doc_id")
    t.add_argument("--cpus", type=int)
    t.set_defaults(fn=cmd_batch)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main(sys.argv[1:])
