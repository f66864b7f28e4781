"""Round-6 optimization measurement harness (bench.py is FROZEN for the
driver; this file is the working-iteration bench).

Usage:
  python bench_extra.py ops [name ...]    # time op queries (count(), fresh
                                          # session, same methodology as
                                          # bench.py's op loop); default: the
                                          # heavy subset
  python bench_extra.py noop [name ...]   # same but with the noop sink
  python bench_extra.py plans [name ...]  # write .explain("formatted") to
                                          # plans/r06/<name>_<tag>.txt
  python bench_extra.py flagship          # one flagship run with stage metrics

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS,
     SPARK_GRAFT_PLAN_TAG (suffix for plan files, default "now"),
     SPARK_GRAFT_REPS (timing repetitions per query, default 1).
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd  # noqa: F401  (pandas_udf annotation resolution)

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEAVY = [
    "dedup_minhash_lsh", "dedup_jaccard_lsh_verified", "dedup_substring",
    "dedup_simhash",
    "sim_kmeans_train", "sim_ann_bruteforce", "sim_ann_ivf",
    "sim_kmeans_assign",
    "kg_lookup_fuzzy", "kg_canon_conflict",
    "text_decontaminate", "text_tfidf_topterms", "rel_band_selfjoin",
    "graph_pagerank",
]


def _session(cpus: str):
    from table_annotation_spark.session import get_spark

    spark = get_spark(app_name="bench-extra", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    reps = int(os.environ.get("SPARK_GRAFT_REPS", "1"))
    mode = sys.argv[1] if len(sys.argv) > 1 else "ops"
    names = sys.argv[2:] or HEAVY

    import __spark_entry__ as entrymod

    if mode == "flagship":
        from table_annotation_spark.flagship import run_flagship

        spark = _session(cpus)
        metrics: dict = {}
        t0 = time.time()
        n = run_flagship(spark, sf_dir, metrics=metrics).count()
        wall = round(time.time() - t0, 3)
        out = {"flagship_sec": wall, "triples": n, **{
            k: v for k, v in metrics.items() if not k.startswith("shard")
        }}
        print(json.dumps(out, default=str))
        spark.stop()
        return

    queries = entrymod.queries()
    spark = _session(cpus)
    timings: dict[str, list] = {}
    for name in names:
        fn = queries[name]
        runs = []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"bx:{name}")
            t0 = time.time()
            df = fn(spark, sf_dir)
            if mode == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            runs.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        timings[name] = runs
        print(f"{name}: {runs}", file=sys.stderr)

    if mode == "plans":
        tag = os.environ.get("SPARK_GRAFT_PLAN_TAG", "now")
        pdir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "plans", "r06")
        os.makedirs(pdir, exist_ok=True)
        for name in names:
            df = queries[name](spark, sf_dir)
            with open(os.path.join(pdir, f"{name}_{tag}.txt"), "w") as fh:
                fh.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode
                    .fromString("formatted")))
            print(f"wrote plan {name}_{tag}.txt", file=sys.stderr)

    print(json.dumps({"mode": mode, "sf_dir": sf_dir, "timings": timings}))
    spark.stop()


if __name__ == "__main__":
    main()
