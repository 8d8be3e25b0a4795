#!/usr/bin/env python
"""Same-box r3-code-vs-r4-code controls (VERDICT r3 "Next round" #4).

BENCH_r03 recorded three entries slower than BENCH_r02 on a box that is
documented (BASELINE.md) to be both slower and noisier than the r1/r2
VM: query_phrase, dedup_embedding_pairs, query_batch_1000_amortized.
This script measures each entry with BOTH code versions, INTERLEAVED
(r3, r4, r3, r4, ...) in fresh subprocesses on the current box, and
prints a best-of/median table for BASELINE.md — the same protocol the
r3 build controls used.

Usage:
  git worktree add /tmp/r3code <r3-commit>
  python scripts/same_box_controls.py [--r3 /tmp/r3code] [--trials 3]

Shared prerequisites (built by a prior `python bench.py` run): the
sf0.1 positions index and 5k index under /tmp/se_bench_index_sf0.1*.
Index formats are identical across the two versions, so both read the
same files — the measurement isolates CODE, not build artifacts.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys

R4 = "/root/repo"

MEASURE = r'''
import json, os, sys, time
repo = sys.argv[1]; what = sys.argv[2]
sys.path.insert(0, repo)
from pyspark.sql import SparkSession, functions as F
spark = (SparkSession.builder.master("local[32]")
         .config("spark.sql.shuffle.partitions", "32")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.driver.memory", "16g")
         .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
# worker-pool spin-up outside the clock, like bench.py
spark.range(0, 32 * 10000, 1, 32).select(
    F.pandas_udf(lambda s: s, "long")(F.col("id")).alias("x")
).agg(F.sum("x")).collect()

out = {}
if what == "query_phrase":
    from searchengine_spark.query.engine import SearchEngine
    eng = SearchEngine(spark, "/tmp/se_bench_index_sf0.1_pos")
    eng.phrase_search("merge column", k=10).collect()  # warm
    ts = []
    for _ in range(3):
        t0 = time.time()
        rows = eng.phrase_search("merge column", k=10).collect()
        ts.append(time.time() - t0)
    out = {"times": ts, "top": [rows[0]["doc_id"], round(rows[0]["score"], 6)]}
elif what == "batch_1000":
    from searchengine_spark.query.engine import SearchEngine
    eng = SearchEngine(spark, "/tmp/se_bench_index_sf0.1")
    top_terms = [r["term"] for r in eng.lexicon.orderBy(F.desc("cf"), "term")
                 .select("term").limit(1000).collect()]
    n = len(top_terms)
    qs = [(f"b{i}", f"{top_terms[i % n]} {top_terms[(i * 7 + 3) % n]}")
          for i in range(1000)]
    eng.batch_search(qs[:8], k=10).count()  # warm
    ts = []
    for _ in range(2):
        t0 = time.time()
        nrows = eng.batch_search(qs, k=10).count()
        ts.append((time.time() - t0) / 1000)
    out = {"times": ts, "rows": nrows}
elif what == "index_build_5k":
    import shutil
    from searchengine_spark.config import EngineConfig
    from searchengine_spark.index.builder import build_index
    from searchengine_spark.sources.corpus import load_documents_as_corpus
    cfg = EngineConfig(stopstem=True, skip_threshold=64, shuffle_partitions=32)
    corpus = load_documents_as_corpus(spark, "/root/testdata/sf0.1")
    d = "/tmp/se_ctrl_idx5k"
    ts = []
    for _ in range(2):
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.time()
        build_index(spark, corpus, d, cfg, resume=False)
        ts.append(time.time() - t0)
    with open(os.path.join(d, "stats.json")) as fh:
        out = {"times": ts, "check": json.load(fh)["true_doc_count"]}
elif what == "index_build_100k":
    import shutil
    from searchengine_spark.config import EngineConfig
    from searchengine_spark.index.builder import build_index
    cfg = EngineConfig(stopstem=True, skip_threshold=64, shuffle_partitions=32)
    big = spark.read.parquet("/tmp/se_bench_big_sf0.1")
    d = "/tmp/se_ctrl_idx100k"
    ts = []
    for _ in range(2):
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.time()
        build_index(spark, big, d, cfg, resume=False)
        ts.append(time.time() - t0)
    with open(os.path.join(d, "stats.json")) as fh:
        out = {"times": ts, "check": json.load(fh)["true_doc_count"]}
elif what == "query_bm25_p50":
    import statistics
    from searchengine_spark.query.engine import SearchEngine
    eng = SearchEngine(spark, "/tmp/se_bench_index_sf0.1")
    queries = ["spark table join fast", "window agg customer stream",
               "index merge batch", "fast sort shuffle partition",
               "stream state checkpoint", "row column vector batch",
               "query plan optimizer cost", "hash join broadcast skew"]
    rows = eng.search(queries[0], k=10).collect()  # warm
    ts = []
    for _ in range(2):
        lat = []
        for q in queries:
            t0 = time.time()
            eng.search(q, k=10).collect()
            lat.append(time.time() - t0)
        ts.append(statistics.median(lat))
    out = {"times": ts, "top": [rows[0]["doc_id"], round(rows[0]["score"], 6)]}
elif what == "dedup_embedding_pairs":
    from searchengine_spark.pipeline import similarity as SIM
    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    qv = emb.limit(1).collect()[0]["embedding"]
    SIM.embedding_near_dup_pairs(emb.limit(200), dim=len(qv),
                                 threshold=0.4).count()  # warm
    ts = []
    for _ in range(2):
        t0 = time.time()
        n = SIM.embedding_near_dup_pairs(emb, dim=len(qv),
                                         threshold=0.4).count()
        ts.append(time.time() - t0)
    out = {"times": ts, "pairs": n}
print("RESULT " + json.dumps(out))
'''


def run_one(repo: str, what: str) -> dict:
    p = subprocess.run(
        [sys.executable, "-c", MEASURE, repo, what],
        capture_output=True, text=True, timeout=900,
    )
    for line in p.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(
        f"no RESULT from {repo} {what}:\n{p.stdout[-2000:]}\n{p.stderr[-2000:]}"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--r3", "--old", dest="old", default="/tmp/r3code",
                    help="worktree of the OLD code version")
    ap.add_argument("--old-label", default="old")
    ap.add_argument("--new-label", default="new")
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument(
        "--whats",
        default="query_phrase,batch_1000,dedup_embedding_pairs",
        help="comma list; also: index_build_5k, index_build_100k, "
        "query_bm25_p50 (the BENCH r3->r4 cold-section regressions)",
    )
    args = ap.parse_args()
    lo, ln = args.old_label, args.new_label

    table = {}
    for what in args.whats.split(","):
        per = {lo: [], ln: []}
        checks = {}
        for t in range(args.trials):
            for label, repo in ((lo, args.old), (ln, R4)):
                res = run_one(repo, what)
                per[label].extend(res["times"])
                checks.setdefault(label, res.get("top") or res.get("rows")
                                  or res.get("pairs") or res.get("check"))
                print(f"  {what} {label} trial {t}: "
                      f"{[round(x, 4) for x in res['times']]}",
                      file=sys.stderr)
        if checks[lo] != checks[ln]:
            # a timing comparison between two versions means nothing if
            # they answered differently: fail hard and show both answers
            sys.exit(
                f"{what}: result check differs between versions\n"
                f"  {lo}: {checks[lo]}\n  {ln}: {checks[ln]}"
            )
        table[what] = {
            f"{lo}_best": round(min(per[lo]), 4),
            f"{lo}_median": round(statistics.median(per[lo]), 4),
            f"{ln}_best": round(min(per[ln]), 4),
            f"{ln}_median": round(statistics.median(per[ln]), 4),
            "result_check_equal": checks[lo] == checks[ln],
            "result_check": checks[ln],
        }
        print(f"{what}: {table[what]}", file=sys.stderr)
    print(json.dumps(table, indent=2))


if __name__ == "__main__":
    main()
