"""``analytics``: the live consumer's drain and a fixed mix of
DuckDB-oracle-backed registry queries, in one Spark session.

Chosen because ``operators`` and ``caching`` are most of the engine's code
and no other workload runs them, and because the reference's core use, a
consumer reading a topic backlog, needs the same session. Set-up launches
a fresh JVM per round and warms it (one mix pass over a small table set and
one short drain). The measured part interleaves three kinds of work, so
that each metric's samples are spread over the whole run:

* stream drains: pre-written backlogs of Zipf-skewed ``(topic, value)``
  JSON files with a share of corrupt values, each read through
  ``sources.read_file_stream`` by a fresh ``ConsumerRouter.start`` query
  (one file per trigger, default driver dispatch) and drained with
  ``processAllAvailable``, timed as a whole; one drain runs before each
  cold pass and before each group of warm passes;
* cold passes, each over a fresh copy of one table set: each misses the
  registry plan cache and the ``bounded_persist`` slots, so it builds both;
* a fixed number of warm passes over the last copy, in groups, which hit
  both caches.

Every time but set-up is scaled to the reference host speed by the run's
``speed.JvmSpeed`` slices, taken between the spans.

Outputs are checked after the timed stages: every non-corrupt event
reached each matching route exactly once and no corrupt one was
dispatched, and every query's order-insensitive result hash equals its
DuckDB oracle's.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time

from perfbench import gen
from perfbench.common import (
    CountingRoutes, Patch, Result, SparkRest, Tracer, log, median, peak_rss_mb, percentile,
    start_spark, stop_jvm, stop_spark, work_dir,
)
from perfbench.speed import JvmSpeed

# a11 runs the ``envelope`` layer's upper_camel_col and c6 the ``streaming``
# layer's stream_static_join, both on batch input
MIX = [
    "a11_envelope_enrich", "b11_tpch_q1", "b53_tpch_q9", "c3_session_window",
    "c6_stream_static_join", "d2_minhash_lsh_check", "d3_topk_cosine",
    "d17_pagerank", "d15_anomaly_mad",
]
PARAMS = {
    "full": {"scale": 0.3, "warm_scale": 0.02, "topics": 16, "file_events": 2000,
             "drain_files": 10, "drains": 6, "corrupt": 0.02},
    "tiny": {"scale": 0.02, "warm_scale": 0.01, "topics": 4, "file_events": 100,
             "drain_files": 3, "drains": 4, "corrupt": 0.05},
}
SETUP_ROUNDS = 2
COLD_PASSES = 3
# warm passes per second of --seconds: a fixed count for a given command
# line (a deadline would make the sample count, and so the rank each
# percentile picks, vary between runs)
WARM_PASSES_PER_S = 1.25
SOURCE_SCHEMA = "topic string, value string"


def one_pass(spark, data: str, tracer: Tracer | None = None, tag: str = ""):
    """Build and execute every query once; returns per-query
    ``(build_s, exec_s, frame)``. Traced passes tag each query's Spark
    jobs with the job group ``<query>|<tag>``."""
    from event_streamer_spark.operators import REGISTRY

    out = {}
    for q in MIX:
        if tracer is not None:
            spark.sparkContext.setJobGroup(f"{q}|{tag}", q)
        t0 = time.perf_counter()
        df = REGISTRY[q].fn(spark, data)
        t1 = time.perf_counter()
        df.collect()
        t2 = time.perf_counter()
        out[q] = (t1 - t0, t2 - t1, df)
        if tracer is not None:
            tracer.add(f"operators.{q}.build", t0, t1)
            tracer.add(f"operators.{q}.exec", t1, t2)
    return out


def _router(routes, sink: list):
    import event_streamer_spark as es

    router = es.ConsumerRouter()
    for idx, (topic, code) in enumerate(routes):
        def handle(content, emit, idx=idx):
            sink.append((idx, content["id"]))

        if code is None:
            router.add(topic, handle)
        else:
            router.add(topic, code, handle)
    return router


def drain(router, spark, path: str) -> list[dict]:
    """Read every file under ``path`` through a fresh consumer query, one
    file per trigger; returns the query's progress reports."""
    from event_streamer_spark.sources import read_file_stream

    src = read_file_stream(spark, path, fmt="json", schema=SOURCE_SCHEMA,
                           max_files_per_trigger=1)
    query = router.start(spark, source_df=src, schema=gen.ROUTE_SCHEMA)[0]
    query.processAllAvailable()
    progress = [json.loads(pr.json) for pr in query.recentProgress]
    router.stop()
    return progress


def set_up(seed: int, trace: bool, p: dict, wd: str, res: Result):
    """``SETUP_ROUNDS`` session starts, each launching a fresh JVM and
    running a first job; then, in the last session, the warm-up: every
    table loaded through ``tables.load``, one pass over the small table
    set and one short drain."""
    import event_streamer_spark as es
    from event_streamer_spark.tables import TABLES, load

    warm = os.path.join(wd, "warm")
    gen.write_tables(seed + 1, warm, p["warm_scale"])
    warm_backlog = os.path.join(wd, "warm-backlog")
    gen.write_backlog(seed + 1, warm_backlog, 2, p["file_events"], p["topics"],
                      p["corrupt"])
    spark, starts, totals = None, [], []
    for _ in range(SETUP_ROUNDS):
        if spark is not None:
            stop_spark(spark)
            stop_jvm()
        t0 = time.perf_counter()
        spark = start_spark(trace)
        es.set_config(es.Config(
            app_name="perfbench", show_deprecation_warnings=False,
            consumer=es.ConsumerConfig(group_id="perfbench"),
        ))
        t1 = time.perf_counter()
        spark.range(1).collect()
        starts.append(t1 - t0)
        totals.append(time.perf_counter() - t0)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    t0 = time.perf_counter()
    for t in TABLES:
        load(spark, warm, t)
    one_pass(spark, warm)
    drain(_router(gen.stream_routes(p["topics"]), []), spark, warm_backlog)
    warmup = time.perf_counter() - t0
    # not scaled: these JVMs are gone before the run's speed slices, and
    # the run's factor did not track their starts (in one set of ten runs
    # the scaled figure spread twice as much as this one)
    res.put("setup_s", median(totals), "s", len(totals))
    res.put("session.start_s", median(starts), "s", len(starts))
    res.put("session.warmup_s", warmup, "s", 1)
    log(f"analytics: set-up rounds {[round(t, 2) for t in totals]}, warm-up {warmup:.1f}s")
    return spark


class StreamStage:
    """The drains: ``drains`` fresh consumer queries, each over its own
    pre-written backlog, run one at a time between the query passes;
    ``check`` verifies the deliveries after the last."""

    def __init__(self, spark, seed: int, p: dict, wd: str, trace: bool) -> None:
        import event_streamer_spark.consumer as C

        self.spark, self.routes = spark, gen.stream_routes(p["topics"])
        self.per_drain = p["drain_files"] * p["file_events"]
        self.dirs, self.lines, self.corrupt = [], [], []
        for k in range(p["drains"]):
            d = os.path.join(wd, f"backlog{k}")
            ls, bad = gen.write_backlog(seed, d, p["drain_files"], p["file_events"],
                                        p["topics"], p["corrupt"],
                                        first_id=k * self.per_drain)
            self.dirs.append(d)
            self.lines += ls
            self.corrupt += bad
        self.hits: list[tuple[int, int]] = []
        self.router = router = _router(self.routes, self.hits)
        self.tracer = self.patch = None
        if trace:
            tracer = self.tracer = Tracer()
            self.patch = Patch()
            self.patch.set(C, "get_parsed_json",
                           tracer.wrap(C.get_parsed_json, "helpers.get_parsed_json"))
            router.dispatch_message = tracer.wrap(router.dispatch_message,
                                                  "consumer.dispatch_message")
            make = router.batch_processor
            router.batch_processor = lambda: tracer.wrap(make(), "consumer.process_batch")
            router.routes = CountingRoutes(router.routes)
        self.times: list[float] = []
        self.progress: list[dict] = []

    def drain_next(self) -> None:
        t0 = time.perf_counter()
        self.progress += drain(self.router, self.spark, self.dirs[len(self.times)])
        self.times.append(time.perf_counter() - t0)

    def check(self, res: Result, scale: float) -> None:
        """Every non-corrupt event reached each matching route exactly once."""
        if self.patch:
            self.patch.restore()
        rates = [self.per_drain / t for t in self.times]
        res.put("events_per_s", median(rates) / scale, "1/s", len(rates))
        res.params["raw_events_per_s"] = median(rates)
        res.params["drain_s"] = [round(t, 2) for t in self.times]
        bad = set(self.corrupt)
        want: dict[int, list[int]] = {}
        for eid, line in enumerate(self.lines):
            if eid in bad:
                continue
            rec = json.loads(line)
            code = json.loads(rec["value"])["code"]
            want[eid] = [i for i, (t, c) in enumerate(self.routes)
                         if t == rec["topic"] and (c is None or c == code)]
        got: dict[int, list[int]] = {}
        for idx, eid in self.hits:
            got.setdefault(eid, []).append(idx)
        wrong = sum(1 for eid, r in want.items() if sorted(got.get(eid, [])) != r)
        res.fail(wrong, f"{wrong} events not delivered exactly once to each matching route")
        stray = sum(1 for eid in got if eid not in want)
        res.fail(stray, f"{stray} corrupt or unknown events were dispatched")
        res.attempted += len(self.lines)
        if self.tracer is not None:
            report_stream_trace(self.tracer, self.progress, len(self.lines), len(bad),
                                self.router.routes.scanned, len(self.hits), res)


def oracle_check(spark, data: str, wd: str, res: Result) -> None:
    """Each query's result hash against its registered DuckDB oracle."""
    import duckdb

    from event_streamer_spark.operators import REGISTRY
    from event_streamer_spark.tables import TABLES
    from scripts.check_oracles import canon_hash

    con = duckdb.connect()
    con.execute("SET memory_limit = '1GB'")
    con.execute("SET threads = 2")
    spill = os.path.join(wd, "duckspill")
    os.makedirs(spill, exist_ok=True)
    con.execute(f"SET temp_directory = '{spill}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    for q in MIX:
        df = REGISTRY[q].fn(spark, data)
        srows = [tuple(r) for r in df.collect()]
        rel = con.sql(REGISTRY[q].oracle)
        orows = rel.fetchall()
        if not srows:
            res.fail(1, f"{q}: empty result")
        elif canon_hash(df.columns, srows) != canon_hash(rel.columns, orows):
            res.fail(1, f"{q}: result hash differs from its DuckDB oracle")
    con.close()


def run(seed: int, seconds: float, trace: bool, size: str, res: Result):
    p = PARAMS[size]
    passes = max(3, math.ceil(seconds * WARM_PASSES_PER_S))
    res.params.update(p, queries=MIX, warm_passes=passes)
    wd = work_dir(f"analytics-{seed}")
    spark = set_up(seed, trace, p, wd, res)
    rest = SparkRest(spark) if trace else None
    stream = StreamStage(spark, seed, p, wd, trace)
    tracer = stream.tracer
    speed = JvmSpeed(spark)
    for _ in range(3):  # compiles the sort before its slices count
        speed.slice()
    speed.slices.clear()

    # identical table sets under fresh paths: each misses the plan cache
    # and rebuilds the persisted slots
    copies = [os.path.join(wd, f"data{k}") for k in range(COLD_PASSES)]
    res.params["rows"] = gen.write_tables(seed, copies[0], p["scale"])
    for c in copies[1:]:
        shutil.copytree(copies[0], c)

    # a drain before each cold pass and each group of warm passes: every
    # metric's samples are spread over the whole run, so one slow spell of
    # the host cannot cover them all; a host-speed slice before each drain
    # and after each cold pass and each group
    groups = p["drains"] - COLD_PASSES
    colds, pass_s, plan_hits, warm_calls, last = [], [], 0, 0, {}
    for data in copies:
        speed.slice()
        stream.drain_next()
        t0 = time.perf_counter()
        one_pass(spark, data, tracer, "cold")
        colds.append(time.perf_counter() - t0)
        speed.slice()
    # one untimed pass first: it is the first to run the cached plans and
    # ran up to 30% slower than the passes after it
    last = {q: v[2] for q, v in one_pass(spark, data).items()}
    for g in range(groups):
        speed.slice()
        stream.drain_next()
        for _ in range(passes * g // groups, passes * (g + 1) // groups):
            t0 = time.perf_counter()
            out = one_pass(spark, data, tracer, "warm")
            pass_s.append(time.perf_counter() - t0)
            for q, (_b, _e, df) in out.items():
                plan_hits += df is last[q]
                warm_calls += 1
                last[q] = df
        speed.slice()
    rss = peak_rss_mb()
    k = speed.scale()
    stream.check(res, k)

    log(f"analytics: drains {res.params['drain_s']}, "
        f"cold passes {[round(t, 2) for t in colds]}, warm total {sum(pass_s):.1f}s")
    res.put("cold_s", median(colds) * k, "s", len(colds))
    res.put("latency_p50_ms", percentile(pass_s, 50) * 1e3 * k, "ms", len(pass_s))
    res.put("latency_p90_ms", percentile(pass_s, 90) * 1e3 * k, "ms", len(pass_s))
    res.put("peak_rss_mb", rss, "MB", 1)
    # the unscaled figures and the host's speed, for the record
    res.params.update(
        pass_ms=[round(t * 1e3) for t in pass_s],
        raw_cold_s=median(colds),
        raw_latency_p50_ms=percentile(pass_s, 50) * 1e3,
        raw_latency_p90_ms=percentile(pass_s, 90) * 1e3,
        host_speed=k,
    )

    if trace:
        report_trace(tracer, rest, plan_hits, warm_calls, res)
    res.attempted += len(MIX)
    t0 = time.perf_counter()
    oracle_check(spark, data, wd, res)
    log(f"analytics: oracle check {time.perf_counter() - t0:.1f}s")
    stop_spark(spark)
    return tracer


def report_stream_trace(tracer, progress, n_offered, n_corrupt, scanned, n_hits,
                        res) -> None:
    """Per-batch engine figures of the drains (medians over the batches
    that read data) and the traced driver-side dispatch."""
    t = tracer.totals()
    batches = [pr for pr in progress if pr["numInputRows"] > 0]
    rows = sum(pr["numInputRows"] for pr in batches)
    nb = max(1, len(batches))

    def dur(key):
        return median([pr["durationMs"].get(key, 0) for pr in batches] or [0])

    disp_n, disp_s, _ = t.get("consumer.dispatch_message", (0, 0.0, 0.0))
    parse_n, parse_s, _ = t.get("helpers.get_parsed_json", (0, 0.0, 0.0))
    _pb_n, _pb_s, pb_self = t.get("consumer.process_batch", (0, 0.0, 0.0))
    res.put("consumer.add_batch_ms", dur("addBatch"), "ms", nb)
    res.put("consumer.dispatch_us_per_event", disp_s / max(1, disp_n) * 1e6, "us", disp_n)
    # the batch body minus its traced parse and dispatch: the collect
    res.put("consumer.collect_ms_per_batch", pb_self / nb * 1e3, "ms", nb)
    res.put("consumer.rows_per_batch", rows / nb, "count", nb)
    res.put("consumer.routes_scanned_per_event", scanned / max(1, disp_n), "count", disp_n)
    res.put("consumer.match_ratio", n_hits / max(1, scanned), "ratio", scanned)
    res.put("helpers.parse_json_us_per_event", parse_s / max(1, parse_n) * 1e6, "us", parse_n)
    res.put("sources.latest_offset_ms", dur("latestOffset"), "ms", nb)
    res.put("sources.get_batch_ms", dur("getBatch"), "ms", nb)
    dropped = n_offered - disp_n  # every offered row never dispatched
    res.put("envelope.corrupt_dropped", dropped, "count", 1)
    if dropped != n_corrupt:
        res.fail(1, f"{dropped} rows dropped as corrupt, generator wrote {n_corrupt}")
    res.put("streaming.query_planning_ms", dur("queryPlanning"), "ms", nb)
    res.put("streaming.wal_commit_ms", dur("walCommit"), "ms", nb)
    res.put("streaming.commit_offsets_ms", dur("commitOffsets"), "ms", nb)


def report_trace(tracer, rest, plan_hits, warm_calls, res) -> None:
    """Per-query build time of the cold pass (the plan-cache miss), median
    warm execution time, and cold-pass shuffle bytes: warm passes re-run
    the cached plan and reuse its shuffle output, so theirs is ~0."""
    by_name: dict[str, list[float]] = {}
    for _sid, _p, name, t0, t1 in tracer.spans:
        by_name.setdefault(name, []).append(t1 - t0)
    for q in MIX:
        builds = by_name[f"operators.{q}.build"][:COLD_PASSES]
        res.put(f"operators.{q}.build_ms", median(builds) * 1e3, "ms", len(builds))
        warm = by_name[f"operators.{q}.exec"][COLD_PASSES:]
        res.put(f"operators.{q}.exec_ms", median(warm) * 1e3, "ms", len(warm))
    stages = {s["stageId"]: s for s in rest.stages()}
    group_of = {}
    for job in rest.get("jobs"):
        for sid in job.get("stageIds", []):
            group_of[sid] = job.get("jobGroup") or ""
    measured = [s for sid, s in stages.items() if "|" in group_of.get(sid, "")]
    for q in MIX:
        mine = [s for s in measured if group_of[s["stageId"]] == f"{q}|cold"]
        res.put(f"operators.{q}.shuffle_bytes",
                sum(s.get("shuffleWriteBytes", 0) for s in mine) / COLD_PASSES,
                "bytes", len(mine))
    res.put("operators.spill_bytes",
            sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                for s in measured), "bytes", len(measured))
    skews = []
    for s in measured:
        summ = rest.get(f"stages/{s['stageId']}/{s['attemptId']}/taskSummary"
                        "?quantiles=0.5,1.0")
        run_t = summ.get("executorRunTime", [0, 0])
        if run_t[0] > 0:
            skews.append(run_t[1] / run_t[0])
    res.put("operators.task_skew", max(skews, default=1.0), "ratio", len(skews))
    res.put("caching.plan_hits", plan_hits, "count", warm_calls)
    res.put("caching.cached_bytes",
            sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0)
                for r in rest.get("storage/rdd")), "bytes", 1)
