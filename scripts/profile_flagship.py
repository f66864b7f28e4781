"""Profile the replicated flagship: per-stage timings + Spark job count.

Usage: python scripts/profile_flagship.py [replicate] [cores]
Prints one JSON line. Iteration harness only — BENCH numbers come from bench.py.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: F401


def main():
    rep = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    cores = sys.argv[2] if len(sys.argv) > 2 else "32"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from table_annotation_spark.flagship import run_flagship
    from table_annotation_spark.session import get_spark

    spark = get_spark(app_name=f"profile-rep{rep}", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    metrics: dict = {}
    t0 = time.time()
    n = run_flagship(spark, sf_dir, replicate=rep, metrics=metrics).count()
    wall = round(time.time() - t0, 1)
    job_ids = tracker.getJobIdsForGroup(None) or []
    out = {
        "replicate": rep, "cores": cores, "wall_sec": wall, "triples": n,
        "n_jobs": len(job_ids), "metrics": metrics,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
