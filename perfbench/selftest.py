"""Self-test of the benchmark at sf 0.001 with short runs.

    python3 perfbench/selftest.py

1. The checks catch corrupted outputs: a dropped recommendation row, a
   duplicated rating, a wrong query fingerprint.
2. Every workload, untraced and traced, exits 0 and prints every metric
   BENCHMARK.json names, with its unit, on a correct run.

Exits non-zero on the first failure.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq

from run import HERE, ROOT, Bench, enter, leave, load_spec

SF = 0.001


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise RuntimeError(f"self-test failed: {what}")


def corrupted_outputs_are_caught() -> None:
    work = enter("selftest")
    import __spark_entry__ as entry

    import checks
    import inputs
    import workloads as W

    from flink_recommendation_system_spark.streaming.pipeline import (
        read_review_stream_json,
        start_speed_layer,
    )

    spec = load_spec()
    try:
        b = Bench("batch_refresh", 1, 1, False, work, spec)
        spark = b.start_session()
        sf_dir = b.path("tables")
        inputs.write_tables(sf_dir, SF, 1)

        # a dropped recommendation row
        top, recs = b.path("models", "top"), b.path("models", "recs")
        W._publish_models(spark, sf_dir, top, recs)
        oracle: dict = {}
        W._oracle_models(sf_dir, oracle)
        expect(W._check_models_vs_oracle(b, top, recs, oracle), "clean models fail the oracle")
        t = pq.read_table(recs)
        expect(t.num_rows > 1, "no recommendations at sf 0.001")
        dropped = b.path("models", "recs_dropped")
        os.makedirs(dropped)
        pq.write_table(t.slice(1), os.path.join(dropped, "part-0.parquet"))
        expect(not W._check_models_vs_oracle(b, top, dropped, oracle),
               "a dropped recommendation row passes the oracle check")

        # a duplicated rating
        rows = inputs.replay_rows(inputs.reviews(sf_dir), 100, 1)
        corpus, src = b.path("corpus"), b.path("source")
        files = inputs.write_replay_files(rows, corpus, 50)
        shutil.copytree(corpus, src)
        ratings, output, ckpt = b.path("ratings"), b.path("output"), b.path("ckpt")
        q = start_speed_layer(read_review_stream_json(spark, src, 1), recs, top,
                              ratings, output, ckpt, trigger={"availableNow": True})
        q.awaitTermination()

        def speed_failures() -> int:
            c = Bench("speed_history", 1, 1, False, work, spec)
            c.spark = spark
            W._check_speed(c, corpus, files, None, ratings, output, ckpt, top, recs)
            return c.failed

        expect(speed_failures() == 0, "a clean speed-layer run fails its checks")
        part = sorted(glob.glob(os.path.join(ratings, "*.parquet")))[0]
        pq.write_table(pq.read_table(part).slice(0, 1), os.path.join(ratings, "part-dup.parquet"))
        expect(speed_failures() == len(files), "a duplicated rating passes the SADD check")

        # a wrong query fingerprint
        name = "cosine_topk"
        df = entry.queries()[name](spark, sf_dir)
        got = df.collect()
        want = checks.duckdb_fingerprint(entry.oracle_sql()[name], sf_dir, threads=2)
        expect(checks.fingerprint(df.columns, got) == want, f"{name} fails its oracle")
        bad = [list(r) for r in got]
        bad[0][df.columns.index("rank")] += 1
        expect(checks.fingerprint(df.columns, bad) != want, "a wrong query output passes the oracle")
        fold = checks.spark_fold(df)
        expect(checks.spark_fold(spark.createDataFrame(got, df.schema)) == fold,
               "the fold of the checked rows differs from the query's fold")
        expect(checks.spark_fold(spark.createDataFrame([tuple(r) for r in bad], df.schema)) != fold,
               "a wrong query output keeps the fold")
    finally:
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession()
        if s is not None:
            s.stop()
        leave(work)


def every_metric_is_emitted() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    for workload in load_spec()["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                 "--seed", "5", "--seconds", "1", "--trace", str(trace), "--sf", str(SF)],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            expect(p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            expect(set(res) == {"correct", "attempted", "failed", "metrics"}, f"result keys {sorted(res)}")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{workload} trace={trace}: {res['attempted']} attempted, {res['failed']} failed")
            for m in declared[kind]:
                got = res["metrics"].get(m["name"])
                expect(got is not None and got["unit"] == m["unit"]
                       and isinstance(got["value"], float),
                       f"{workload} trace={trace}: metric {m['name']} is {got}")
            print(f"ok {workload} trace={trace}", flush=True)


if __name__ == "__main__":
    corrupted_outputs_are_caught()
    print("ok corrupted outputs are caught", flush=True)
    every_metric_is_emitted()
    print("self-test passed")
