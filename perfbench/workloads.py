"""The four workloads. Each takes the run's ``Bench``, sets up, measures for
``b.seconds`` and checks the program's outputs; see workloads.json for why
each was chosen."""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

import checks
import inputs
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "flink_recommendation_system_spark"


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, math.ceil(len(s) * p / 100) - 1))]


def _tables(b, sf: float, name: str = "tables") -> str:
    t0 = time.perf_counter()
    d = b.path(name)
    b.details["table_rows"] = inputs.write_tables(d, sf, b.seed)
    b.details["inputs_s"] = round(time.perf_counter() - t0, 4)
    return d


def _measure_start(b) -> float:
    """Switch tracing on (traced runs) and mark the start of measurement."""
    if b.trace:
        b.tracer = tracing.install(b, PKG)
    b.measure_from = time.time()
    return b.measure_from


# --------------------------------------------------------------------------
# batch layers A and B
# --------------------------------------------------------------------------
def _publish_models(spark, sf_dir: str, top_path: str, recs_path: str) -> None:
    from flink_recommendation_system_spark.plans import recommendations as R
    from flink_recommendation_system_spark.plans import top_products as TP
    from flink_recommendation_system_spark.sources import tables as T

    reviews = T.reviews_from_events(spark, sf_dir)
    TP.publish_top_products(TP.top_products(reviews), top_path)
    R.publish_user_recommendations(R.user_recommendations(reviews), recs_path)


def _oracle_models(sf_dir: str, out: dict) -> None:
    from flink_recommendation_system_spark import oracles

    for name, sql in (("top_products", oracles.TOP_PRODUCTS_SQL),
                      ("user_recommendations", oracles.USER_RECOMMENDATIONS_SQL)):
        out[name] = checks.duckdb_fingerprint(sql, sf_dir, threads=2)


def _check_models_vs_oracle(b, top_path: str, recs_path: str, oracle: dict) -> bool:
    spark = b.spark
    ok = True
    for name, path in (("top_products", top_path), ("user_recommendations", recs_path)):
        got = checks.spark_fingerprint(spark.read.parquet(path))
        if got != oracle[name]:
            b.fail(f"{name}: published {got} != oracle {oracle[name]}")
            ok = False
    return ok


def batch_refresh(b) -> None:
    p = b.params
    sf_dir = _tables(b, p["sf"])
    top_path, recs_path = b.path("models", "top_products"), b.path("models", "user_recommendations")

    def prep(_i):
        from flink_recommendation_system_spark.sources import tables as T

        T.reviews_from_events(b.spark, sf_dir).count()

    b.setup(prep, p["setup_reps"])
    spark = b.spark

    # warm-up refreshes, checked against the oracle computed beside them
    oracle: dict = {}
    th = threading.Thread(target=_oracle_models, args=(sf_dir, oracle))
    th.start()
    t0 = time.perf_counter()
    for _ in range(p["warmup_refreshes"]):
        _publish_models(spark, sf_dir, top_path, recs_path)
    b.details["warmup_s"] = round(time.perf_counter() - t0, 4)
    th.join()
    ok = _check_models_vs_oracle(b, top_path, recs_path, oracle)
    b.record(ok, "warm-up refresh does not match the oracle")
    reference = (checks.spark_fold(spark.read.parquet(top_path)),
                 checks.spark_fold(spark.read.parquet(recs_path)))

    times: list[float] = []
    _measure_start(b)
    # single refreshes swing by +-20% on a shared 4-core host: the median
    # needs at least min_refreshes of them
    while sum(times) < b.seconds or len(times) < p["min_refreshes"]:
        i = len(times)
        b.job_group(f"refresh-{i}")
        t0 = time.perf_counter()
        try:
            _publish_models(spark, sf_dir, top_path, recs_path)
        except Exception as e:  # a failed refresh is a failed operation
            b.job_group(None)
            b.record(False, f"refresh {i} raised {type(e).__name__}: {e}")
            times.append(time.perf_counter() - t0)
            continue
        dt = time.perf_counter() - t0
        b.job_group(None)
        times.append(dt)
        got = (checks.spark_fold(spark.read.parquet(top_path)),
               checks.spark_fold(spark.read.parquet(recs_path)))
        b.record(got == reference, f"refresh {i} published {got} != first {reference}")
    b.ops = times
    n_events = b.details["table_rows"]["events"]
    b.e2e["op_ms_p50"] = statistics.median(times) * 1000
    b.e2e["input_rows_per_s"] = n_events / statistics.median(times)
    b.details["refresh_s"] = [round(x, 4) for x in times]
    b.details["refresh_s_p50"] = statistics.median(times)
    b.layer["cache.retained_mb"] = b.retained_mb()
    if b.trace:
        from flink_recommendation_system_spark.operators import graph as G
        from flink_recommendation_system_spark.sources import tables as T

        b.tracer.restore()
        b.layer["graph.edges"] = G.co_review_edges(
            G.good_reviews(T.reviews_from_events(spark, sf_dir))
        ).count()


# --------------------------------------------------------------------------
# speed layer
# --------------------------------------------------------------------------
def _collector():
    from pyspark.sql.streaming import StreamingQueryListener

    class Collector(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self.lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with self.lock:
                self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def data_batches(self) -> list[dict]:
            with self.lock:
                return [p for p in self.progress if p.get("numInputRows", 0) > 0]

    return Collector()


def _source_log(ckpt: str) -> dict[str, int]:
    """Replay file name -> micro-batch id, from the file source's commit
    log (compact files repeat earlier entries; every entry has its batch)."""
    out: dict[str, int] = {}
    log = os.path.join(ckpt, "sources", "0")
    if not os.path.isdir(log):
        return out
    for fname in os.listdir(log):
        fpath = os.path.join(log, fname)
        if fname.startswith(".") or not os.path.isfile(fpath):
            continue
        with open(fpath) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _emitted_at(output: str, batch_id: int) -> float | None:
    try:
        return os.stat(os.path.join(output, f"batch={batch_id}", "_SUCCESS")).st_mtime
    except FileNotFoundError:
        return None


def _file_rows(corpus: str, name: str) -> list[tuple[int, int, float]]:
    with open(os.path.join(corpus, name)) as fh:
        return [
            (int(r["userId"]), int(r["productId"]), float(r["review"]))
            for r in map(json.loads, fh)
        ]


def _check_speed(b, corpus: str, files: list[str], history: str | None,
                 ratings: str, output: str, ckpt: str, top_path: str,
                 recs_path: str) -> None:
    """The three speed-layer checks; each replay file is one operation."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_recommendation_system_spark.streaming.pipeline import (
        enrich_with_recommendations,
    )

    spark = b.spark
    batch_of = _source_log(ckpt)
    bad: set[str] = set()
    # 1. the source commit log lists every replay file
    for f in files:
        if f not in batch_of:
            bad.add(f)
    if bad:
        b.fail(f"source commit log misses {len(bad)} of {len(files)} replay files")

    rows_of = {f: _file_rows(corpus, f) for f in files}
    # 2. user_ratings == distinct(history U replay), no duplicate keys
    replay = sorted({r for f in files for r in rows_of[f]})
    exp = pa.table({
        "user_id": pa.array([r[0] for r in replay], pa.int64()),
        "product_id": pa.array([r[1] for r in replay], pa.int64()),
        "rating": pa.array([r[2] for r in replay], pa.float64()),
    })
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        con.register("replay", exp)
        con.execute(f"CREATE VIEW got AS SELECT user_id, product_id, rating "
                    f"FROM read_parquet('{ratings}/*.parquet')")
        hist = (f"SELECT user_id, product_id, rating FROM read_parquet('{history}/*.parquet')"
                if history else "SELECT * FROM replay WHERE false")
        con.execute(f"CREATE VIEW want AS {hist} UNION SELECT * FROM replay")
        n, nd = con.execute("SELECT count(*), count(DISTINCT (user_id, product_id, rating)) FROM got").fetchone()
        missing = con.execute("SELECT user_id, product_id, rating FROM (SELECT * FROM want EXCEPT SELECT * FROM got)").fetchall()
        extra = con.execute("SELECT count(*) FROM (SELECT * FROM got EXCEPT SELECT * FROM want)").fetchone()[0]
        hist_rows = con.execute(f"SELECT count(*) FROM ({hist})").fetchone()[0]
    finally:
        con.close()
    b.details["ratings_rows"] = n
    b.layer["ratings_sink.rows_written"] = n - hist_rows
    if n != nd or extra:
        b.fail(f"user_ratings has {n - nd} duplicate and {extra} unexpected rows")
        bad.update(files)
    if missing:
        miss = set(missing)
        for f in files:
            if any(r in miss for r in rows_of[f]):
                bad.add(f)
        b.fail(f"user_ratings misses {len(missing)} replay rows")

    # 3. every emitted message equals the static enrichment of its user,
    # and each micro-batch emits exactly the users of its files
    users = sorted({r[0] for f in files for r in rows_of[f]})
    static = enrich_with_recommendations(
        spark.createDataFrame([(u,) for u in users], "user_id long"),
        spark.read.parquet(recs_path), spark.read.parquet(top_path),
    ).collect()
    expected = {r["user_id"]: list(r["recommended_products"]) for r in static}
    emitted: dict[int, dict[int, list]] = {}
    for part in glob.glob(os.path.join(output, "batch=*", "*.parquet")):
        bid = int(os.path.basename(os.path.dirname(part)).split("=")[1])
        for v in pq.read_table(part).column("value").to_pylist():
            msg = json.loads(v)
            emitted.setdefault(bid, {})[msg["userId"]] = msg["recommendedProducts"]
    by_batch: dict[int, list[str]] = {}
    for f in files:
        if f in batch_of:
            by_batch.setdefault(batch_of[f], []).append(f)
    wrong = 0
    for bid, fs in by_batch.items():
        want_users = {r[0] for f in fs for r in rows_of[f]}
        got = emitted.get(bid, {})
        if set(got) != want_users or any(got[u] != expected.get(u) for u in got):
            bad.update(fs)
            wrong += 1
    if wrong:
        b.fail(f"{wrong} micro-batches emitted wrong or missing messages")
    for f in files:
        b.record(f not in bad, f"replay file {f} failed")
    b.batch_of = batch_of
    b.rows_of = rows_of


def _speed_setup(b, sf_dir: str):
    top_path, recs_path = b.path("models", "top_products"), b.path("models", "user_recommendations")

    def prep(_i):
        _publish_models(b.spark, sf_dir, top_path, recs_path)

    b.setup(prep, b.params["setup_reps"])
    return top_path, recs_path


def _wait(pred, timeout: float, step: float = 0.02) -> bool:
    deadline = time.time() + timeout
    while time.time() < deadline:
        if pred():
            return True
        time.sleep(step)
    return pred()


def speed_steady(b) -> None:
    from flink_recommendation_system_spark.streaming.pipeline import (
        read_review_stream_json,
        start_speed_layer,
    )

    p = b.params
    sf_dir = _tables(b, p["sf"])
    t0 = time.perf_counter()
    n_warm = p["warmup_files"]
    n_meas = max(3, int(round(b.seconds * p["rate_files_per_s"])))
    rows = inputs.replay_rows(inputs.reviews(sf_dir), (n_warm + n_meas) * p["events_per_file"], b.seed)
    corpus = b.path("corpus")
    files = inputs.write_replay_files(rows, corpus, p["events_per_file"])
    b.details["inputs_s"] += round(time.perf_counter() - t0, 4)

    top_path, recs_path = _speed_setup(b, sf_dir)
    spark = b.spark
    coll = _collector()
    spark.streams.addListener(coll)
    live, ratings, output, ckpt = (b.path(x) for x in ("live", "ratings", "output", "ckpt"))
    os.makedirs(live)
    q = start_speed_layer(
        read_review_stream_json(spark, live, max_files_per_trigger=100_000),
        recs_path, top_path, ratings, output, ckpt, trigger=None,
    )

    def emitted(f):
        bid = _source_log(ckpt).get(f)
        return bid is not None and _emitted_at(output, bid) is not None

    # warm-up files, one micro-batch each
    t0 = time.perf_counter()
    for f in files[:n_warm]:
        shutil.copyfile(os.path.join(corpus, f), os.path.join(live, "." + f))
        os.rename(os.path.join(live, "." + f), os.path.join(live, f))
        if not _wait(lambda: emitted(f), 120) or q.exception():
            raise RuntimeError(f"warm-up file {f} was not emitted: {q.exception()}")
    b.details["warmup_s"] = round(time.perf_counter() - t0, 4)
    _wait(lambda: len(coll.data_batches()) >= n_warm, 10, 0.05)
    n_warm_batches = len(coll.data_batches())

    measured = files[n_warm:]
    log = b.path("feeder.json")
    _measure_start(b)
    start = time.time() + 0.2
    feeder = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "feeder.py"), "--src", corpus,
         "--dst", live, "--rate", str(p["rate_files_per_s"]), "--start",
         repr(start), "--log", log, *measured]
    )
    try:
        feeder.wait(timeout=n_meas / p["rate_files_per_s"] + 60)
    finally:
        if feeder.poll() is None:
            feeder.kill()
            feeder.wait()
    if feeder.returncode != 0:
        raise RuntimeError(f"feeder exited with {feeder.returncode}")
    t_end = time.time()
    with open(log) as fh:
        sent = json.load(fh)
    # one inter-arrival gap after the last file: a stream that keeps up
    # has emitted everything by then
    time.sleep(1 / p["rate_files_per_s"])
    backlog = sum(1 for f in measured if not emitted(f))
    _wait(lambda: all(emitted(f) for f in measured) or q.exception() is not None, 60, 0.1)
    if q.exception() is not None:
        b.fail(f"speed layer failed: {q.exception()}")
    q.stop()
    _wait(lambda: len(coll.data_batches()) >= len(set(_source_log(ckpt).values())), 10, 0.1)
    spark.streams.removeListener(coll)
    b.trigger_progress = coll.data_batches()[n_warm_batches:]

    _check_speed(b, corpus, files, None, ratings, output, ckpt, top_path, recs_path)
    lat = []
    emit_last = start
    for s in sent:
        bid = b.batch_of.get(s["file"])
        at = _emitted_at(output, bid) if bid is not None else None
        if at is not None:
            lat.append((at - s["due"]) * 1000)
            emit_last = max(emit_last, at)
    if not lat:
        raise RuntimeError("no replay file was emitted")
    b.e2e["op_ms_p50"] = statistics.median(lat)
    b.e2e["input_rows_per_s"] = len(measured) * p["events_per_file"] / (emit_last - start)
    b.ops = [x / 1000 for x in lat]
    b.details["event_latency_ms"] = [round(x, 2) for x in lat]
    b.details["event_latency_ms_p50"] = statistics.median(lat)
    b.details["event_latency_ms_p95"] = percentile(lat, 95)
    b.details["rate_events_per_s"] = p["rate_files_per_s"] * p["events_per_file"]
    b.layer["generator.lag_ms_max"] = max((s["sent"] - s["due"]) * 1000 for s in sent)
    b.layer["backlog_files_end"] = backlog
    b.details["caught_up_s_after_last_due"] = round(time.time() - t_end, 3)
    b.layer["cache.retained_mb"] = b.retained_mb()


def speed_history(b) -> None:
    from flink_recommendation_system_spark.streaming.pipeline import (
        read_review_stream_json,
        start_speed_layer,
    )

    p = b.params
    sf_dir = _tables(b, p["sf"])
    t0 = time.perf_counter()
    rev = inputs.reviews(sf_dir)
    ratings, history = b.path("ratings"), b.path("history")
    hist_rows = inputs.write_history(rev, history, p["history_replicas"])
    shutil.copytree(history, ratings)
    per_round = p["max_files_per_trigger"] * p["triggers_per_round"]
    # enough files for 64 rounds, as far as the events go
    pool = min(64 * per_round, len(rev) // p["events_per_file"])
    rows = inputs.replay_rows(rev, pool * p["events_per_file"], b.seed)
    corpus = b.path("corpus")
    files = inputs.write_replay_files(rows, corpus, p["events_per_file"])
    b.details["inputs_s"] += round(time.perf_counter() - t0, 4)
    b.details["history_rows"] = hist_rows

    top_path, recs_path = _speed_setup(b, sf_dir)
    spark = b.spark
    coll = _collector()
    spark.streams.addListener(coll)
    src, output, ckpt = b.path("source"), b.path("output"), b.path("ckpt")
    os.makedirs(src)

    def drain(names: list[str]) -> float:
        """Drop ``names`` into the source and drain them; a failed query
        leaves its files uncommitted, which the checks count as failed."""
        for f in names:
            shutil.copyfile(os.path.join(corpus, f), os.path.join(src, "." + f))
            os.rename(os.path.join(src, "." + f), os.path.join(src, f))
        t = time.perf_counter()
        q = start_speed_layer(
            read_review_stream_json(spark, src, max_files_per_trigger=p["max_files_per_trigger"]),
            recs_path, top_path, ratings, output, ckpt, trigger={"availableNow": True},
        )
        try:
            q.awaitTermination()
        except Exception as e:  # StreamingQueryException
            b.fail(f"backfill drain failed: {e}")
        return time.perf_counter() - t

    t0 = time.perf_counter()
    drain(files[: p["max_files_per_trigger"]])
    used = p["max_files_per_trigger"]
    b.details["warmup_s"] = round(time.perf_counter() - t0, 4)
    _wait(lambda: len(coll.data_batches()) >= 1, 10, 0.05)
    n_warm_batches = len(coll.data_batches())

    _measure_start(b)
    walls: list[float] = []
    while (sum(walls) < b.seconds or len(walls) < 2) and used + per_round <= len(files):
        walls.append(drain(files[used : used + per_round]))
        used += per_round
    files = files[:used]
    _wait(lambda: len(coll.data_batches()) >= n_warm_batches + len(walls) * p["triggers_per_round"], 10, 0.05)
    spark.streams.removeListener(coll)
    b.trigger_progress = coll.data_batches()[n_warm_batches:]

    _check_speed(b, corpus, files, history, ratings, output, ckpt, top_path, recs_path)
    trig = [float(x["durationMs"]["triggerExecution"]) for x in b.trigger_progress]
    if not trig:
        raise RuntimeError("no measured trigger reported progress")
    n_events = len(walls) * per_round * p["events_per_file"]
    b.e2e["op_ms_p50"] = statistics.median(trig)
    b.e2e["input_rows_per_s"] = n_events / sum(walls)
    b.ops = [t / 1000 for t in trig]
    b.details["drain_round_s"] = [round(x, 4) for x in walls]
    b.details["history_events_per_s"] = b.e2e["input_rows_per_s"]
    b.layer["cache.retained_mb"] = b.retained_mb()


# --------------------------------------------------------------------------
# catalog query mix
# --------------------------------------------------------------------------
def query_mix(b) -> None:
    import __spark_entry__ as entry

    p = b.params
    qmap = p["queries"]
    base = _tables(b, p["sf"], "tables-0")
    # each set-up publishes the corpus artifacts afresh: the program
    # memoizes them per table directory, so every set-up gets its own copy
    dirs = [base]
    for i in range(1, p["setup_reps"]):
        dirs.append(b.path(f"tables-{i}"))
        shutil.copytree(base, dirs[-1])
    fns = entry.queries()
    sqls = entry.oracle_sql()

    def prep(i):
        fns["deduped_corpus_quality_artifact"](b.spark, dirs[i])

    b.setup(prep, p["setup_reps"])
    spark = b.spark
    sf_dir = dirs[-1]

    # warm-up pass: collect every output and check it against the oracle,
    # which DuckDB computes beside it; the Spark fold of the checked rows
    # is what every timed pass must reproduce
    oracle: dict = {}

    def run_oracles():
        by_sql: dict[str, tuple] = {}
        for name in qmap:
            sql = sqls[name]
            if sql not in by_sql:
                by_sql[sql] = checks.duckdb_fingerprint(sql, sf_dir, threads=2)
            oracle[name] = by_sql[sql]

    th = threading.Thread(target=run_oracles)
    th.start()
    expected: dict[str, tuple] = {}
    got_fp: dict[str, tuple] = {}
    t0 = time.perf_counter()
    for name in qmap:
        df = fns[name](spark, sf_dir)
        rows = df.collect()
        got_fp[name] = checks.fingerprint(df.columns, rows)
        expected[name] = checks.spark_fold(spark.createDataFrame(rows, df.schema))
    b.details["warmup_s"] = round(time.perf_counter() - t0, 4)
    th.join()
    for name in qmap:
        b.record(got_fp[name] == oracle.get(name),
                 f"{name}: {got_fp[name]} != oracle {oracle.get(name)}")

    rows_per_pass = sum(b.details["table_rows"][t] for t in qmap.values())
    passes: list[float] = []
    b.query_times = {n: [] for n in qmap}
    _measure_start(b)
    while sum(passes) < b.seconds or not passes:
        k = len(passes)
        total = 0.0
        for name in qmap:
            b.job_group(f"q.{name}.{k}")
            t0 = time.perf_counter()
            try:
                if b.tracer:
                    with b.tracer.span(f"q.{name}.build"):
                        df = fns[name](spark, sf_dir)
                    t1 = time.perf_counter()
                    with b.tracer.span(f"q.{name}.exec"):
                        fold = checks.spark_fold(df)
                else:
                    df = fns[name](spark, sf_dir)
                    t1 = time.perf_counter()
                    fold = checks.spark_fold(df)
            except Exception as e:  # a query that raises is a failed operation
                b.job_group(None)
                total += time.perf_counter() - t0
                b.record(False, f"{name} pass {k} raised {type(e).__name__}: {e}")
                continue
            t2 = time.perf_counter()
            b.job_group(None)
            total += t2 - t0
            b.query_times[name].append((t1 - t0, t2 - t1))
            b.record(fold == expected[name], f"{name} pass {k}: fold {fold} != {expected[name]}")
        passes.append(total)
    b.ops = passes
    b.e2e["op_ms_p50"] = statistics.median(passes) * 1000
    b.e2e["input_rows_per_s"] = rows_per_pass * len(passes) / sum(passes)
    b.details["query_mix_s"] = [round(x, 4) for x in passes]
    b.details["query_s"] = {
        n: [round(x + y, 4) for x, y in v] for n, v in b.query_times.items()
    }
    b.layer["cache.retained_mb"] = b.retained_mb()


# --------------------------------------------------------------------------
# per-layer metrics of a traced run
# --------------------------------------------------------------------------
LAYER_OF = {
    "tables": "sources.tables",
    "top_products": "plans.top_products",
    "graph": "operators.graph",
    "recommendations": "plans.recommendations",
    "pipeline": "streaming.pipeline",
    "ratings_sink": "streaming.pipeline",
    "model_pin": "sources.warehouse",
    "dedup": "catalog",
    "similarity": "catalog",
    "importance": "catalog",
    "bpe": "catalog",
    "sketches": "catalog",
}
SELF_LAYERS = ("sources.tables", "plans.top_products", "operators.graph",
               "plans.recommendations", "streaming.pipeline", "sources.warehouse",
               "catalog")


def finish_trace(b) -> None:
    """Turn spans and the event log into the per-layer metrics."""
    tr = b.tracer
    if tr is None:
        raise RuntimeError("traced run ended before measurement started")
    tr.restore()
    jobs = [j for j in tracing.parse_event_log(b.event_log)
            if j.submitted >= b.measure_from - 0.001]
    n_ops = len(b.ops)
    L = b.layer
    L["traced.op_ms_p50"] = statistics.median(b.ops) * 1000
    selfs = tr.self_times(b.measure_from)
    totals = tr.totals(b.measure_from)
    per_layer: dict[str, float] = {k: 0.0 for k in SELF_LAYERS}
    for name, s in selfs.items():
        layer = LAYER_OF.get(name.split(".")[0])
        if layer:
            per_layer[layer] += s
    for k, v in per_layer.items():
        L[f"self_s.{k}"] = v / n_ops
    L["self_s.other"] = sum(b.ops) / n_ops - sum(per_layer.values()) / n_ops
    # the spans, written out once: calls, total and self seconds per name
    b.details["spans"] = {
        k: [totals[k][0], round(totals[k][1], 4), round(selfs[k], 4)] for k in sorted(selfs)
    }

    def tot(name):
        return totals.get(name, (0, 0.0))

    def per_op(name):
        return tot(name)[1] / n_ops

    def jobs_in(prefix):
        return [j for j in jobs if j.span and j.span.startswith(prefix)]

    L["tables.reviews_s"] = per_op("tables.reviews")
    L["top_products.build_s"] = per_op("top_products.build")
    L["top_products.publish_s"] = per_op("top_products.publish")
    L["top_products.jobs"] = len(jobs_in("top_products.")) / n_ops
    L["graph.good_reviews_s"] = per_op("graph.good_reviews")
    L["graph.co_review_edges_s"] = per_op("graph.co_review_edges")
    L["graph.lpa_s"] = per_op("graph.label_propagation")
    L["graph.jobs"] = len(jobs_in("graph.")) / n_ops
    rec = tracing.summarize(jobs_in("recommendations."))
    L["recommendations.build_s"] = per_op("recommendations.build")
    L["recommendations.publish_s"] = per_op("recommendations.publish")
    for k in ("jobs", "stages", "tasks", "shuffle_write_bytes"):
        L[f"recommendations.{k}"] = rec[k] / n_ops
    _trace_streaming(b, jobs, tot)
    _trace_queries(b, jobs)


def _trace_streaming(b, jobs, tot) -> None:
    L = b.layer
    prog = getattr(b, "trigger_progress", None)
    if not prog:
        return
    ids = {int(x["batchId"]) for x in prog}
    per_batch: dict[int, list] = {}
    for j in jobs:
        if j.batch_id is not None and int(j.batch_id) in ids:
            per_batch.setdefault(int(j.batch_id), []).append(j)
    sums = [tracing.summarize(v) for v in per_batch.values()] or [tracing.summarize([])]
    L["trigger.ms_p50"] = statistics.median(float(x["durationMs"]["triggerExecution"]) for x in prog)
    L["trigger.add_batch_ms_p50"] = statistics.median(float(x["durationMs"].get("addBatch", 0)) for x in prog)
    for k in ("jobs", "stages", "tasks", "shuffle_bytes"):
        L[f"trigger.{k}"] = statistics.median(s[k] for s in sums)
    b.details["trigger_stages_range"] = [min(s["stages"] for s in sums), max(s["stages"] for s in sums)]
    b.details["trigger_jobs_each"] = [s["jobs"] for s in sums]
    files_per = {}
    for f, bid in b.batch_of.items():
        if bid in ids:
            files_per[bid] = files_per.get(bid, 0) + 1
    L["trigger.files"] = statistics.median(files_per.values()) if files_per else 0
    L["triggers"] = len(prog)
    n = len(prog)
    calls, secs = tot("model_pin")
    L["model_pin.ms"] = secs / calls * 1000 if calls else 0.0
    L["model_pin.calls"] = calls / n
    L["model_pin.retries"] = b.tracer.counts["model_pin.reads"] - calls
    _c, sink = tot("ratings_sink")
    L["ratings_sink.ms"] = sink / n * 1000
    sink_jobs = [j for j in jobs if j.span == "ratings_sink" and j.batch_id is not None
                 and int(j.batch_id) in ids]
    events = 0
    for f, bid in b.batch_of.items():
        if bid in ids:
            events += len(b.rows_of[f])
    L["ratings_sink.history_rows_read"] = (sum(j.records_read for j in sink_jobs) - events) / n


def _trace_queries(b, jobs) -> None:
    qt = getattr(b, "query_times", None)
    if not qt:
        return
    L = b.layer
    ranges = {}
    for name, times in qt.items():
        per_pass = []
        for k in range(len(b.ops)):
            js = [j for j in jobs if j.group == f"q.{name}.{k}"]
            if js:
                per_pass.append(tracing.summarize(js))
        L[f"q.{name}.build_s"] = statistics.mean(t[0] for t in times)
        L[f"q.{name}.exec_s"] = statistics.mean(t[1] for t in times)
        for k in ("jobs", "stages", "tasks", "shuffle_bytes"):
            L[f"q.{name}.{k}"] = statistics.median(s[k] for s in per_pass) if per_pass else 0
        ranges[name] = {k: [min(s[k] for s in per_pass), max(s[k] for s in per_pass)]
                        for k in ("jobs", "stages")} if per_pass else None
    b.details["query_job_ranges"] = ranges
