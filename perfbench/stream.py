"""``stream`` workload: open-loop live phase, then a capped backlog drain.

``read_json_event_stream`` -> ``sliding_agg_exact`` ->
``start_stream_upsert`` into a 10-minute store prefilled with one record
per card. One query, capped at ``DRAIN_CAP`` files per trigger, runs
the whole workload:

* warm-up: a backlog of drain-sized files (the first, cold trigger and
  a warm drain), then a live warm phase;
* live phase: a separate writer process lands small event files on a
  fixed wall-clock schedule, never waiting for the query. Few files a
  second keep the per-file work small against the fixed per-trigger
  cost, so the query stays far from saturation. Freshness is each
  file's batch commit time minus the file's due time;
* drain: once the live phase is committed, a backlog lands at once
  while the query is idle, and its catch-up rate is timed over the
  capped triggers that consume it.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import multiprocessing
import os
import threading
import time

import common
import streamgen

LIVE_RATE = 4.0  # files per second in the live phase
LIVE_EVENTS = 6  # regular events per live file
WARM_LIVE_S = 3.0
DRAIN_CAP = 25  # files per trigger, the whole run
DRAIN_EVENTS = 200  # regular events per backlog file
WARM_DRAIN_TRIGGERS = 2  # the first (cold) trigger and one warm drain
DRAIN_TRIGGERS = 3
COMMIT_TIMEOUT_S = 30.0
LATE_LIMIT_S = 0.25  # a file written later than this after its due time fails


class ProgressLog:
    """Every query progress, kept in order for the whole run (Spark's own
    offset and commit logs retain only the newest batches)."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                log._add(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()
        self.items = []
        self._cv = threading.Condition()

    def _add(self, p):
        start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        start = start.timestamp()
        d = dict(p.durationMs)
        ops = p.stateOperators
        item = {
            "batch": p.batchId,
            "rows": p.numInputRows,
            "start": start,
            "end": start + d.get("triggerExecution", 0) / 1000.0,
            "ms": d,
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_bytes": sum(o.memoryUsedBytes for o in ops),
            "state_commit_ms": sum(o.commitTimeMs for o in ops),
        }
        with self._cv:
            self.items.append(item)
            self._cv.notify_all()

    def wait_rows(self, k, total, timeout):
        """Block until batches after index ``k`` consumed ``total`` rows."""
        end = time.time() + timeout
        with self._cv:
            while sum(i["rows"] for i in self.items[k:]) < total:
                left = end - time.time()
                if left <= 0:
                    return False
                self._cv.wait(min(left, 0.5))
        return True


def source_batches(ckpt):
    """File name -> batch id, from every entry of the file-source log
    (``N`` and ``N.compact`` files). Each entry carries its own batchId;
    a compact file holds entries of many batches."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        name = os.path.basename(path)
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue  # version header
                e = json.loads(line)
                out[os.path.basename(e["path"])] = e["batchId"]
    return out


def check_batches(file_batch, written, progress):
    """Every written file was consumed, and per batch the events of its
    files add up to the batch's ``numInputRows``."""
    problems = []
    per_batch = {}
    for idx, _due, _w, n in written:
        b = file_batch.get(f"{idx:07d}.json")
        if b is None:
            problems.append(f"file {idx} never consumed")
            continue
        per_batch[b] = per_batch.get(b, 0) + n
    rows = {p["batch"]: p["rows"] for p in progress if p["rows"]}
    for b in sorted(set(rows) | set(per_batch)):
        if rows.get(b, 0) != per_batch.get(b, 0):
            problems.append(
                f"batch {b}: {rows.get(b, 0)} input rows, files hold "
                f"{per_batch.get(b, 0)} events"
            )
    return problems


def expected_latest(spark, src):
    """Per card: (count, avg) of the trailing 10 minutes at the card's
    latest event, from ``trailing_window_features_exact`` over every
    emitted event."""
    from pyspark.sql import functions as F

    from amazon_sagemaker_feature_store_streaming_aggregation_spark.operators.window_agg import (
        trailing_window_features_exact,
    )
    from amazon_sagemaker_feature_store_streaming_aggregation_spark.streaming import (
        STREAM_EVENT_SCHEMA,
    )

    ev = (
        spark.read.schema(STREAM_EVENT_SCHEMA)
        .json(src)
        .withColumn("ts", F.timestamp_seconds("trans_ts"))
    )
    win = trailing_window_features_exact(ev, ts="ts", long_us=600 * 1_000_000)
    last = win.groupBy("cc_num").agg(F.max("ts").alias("ts"))
    rows = (
        win.join(last, ["cc_num", "ts"])
        .select("cc_num", "ts", "num_trans_last_10m", "avg_amt_last_10m")
        .distinct()
        .collect()
    )
    out = {}
    for r in rows:
        if r[0] in out:
            out[r[0]] = None  # peers disagree: cannot happen for RANGE frames
        else:
            out[r[0]] = (r[1], int(r[2]), float(r[3]))
    return out


def check_store(got, want, n_cards):
    """``got``: card -> (trans_time, count, avg) read from the store."""
    problems = []
    if len(got) != n_cards:
        problems.append(f"store holds {len(got)} records, expected {n_cards}")
    bad = [c for c, w in want.items() if got.get(c) != w]
    if bad:
        c = bad[0]
        problems.append(f"{len(bad)} cards differ, e.g. {c}: {got.get(c)} != {want[c]}")
    return problems


def store_latest(fg):
    return {
        r[0]: (r[1], int(r[2]), float(r[3]))
        for r in fg.get_latest()
        .select("cc_num", "trans_time", "num_trans_last_10m", "avg_amt_last_10m")
        .collect()
    }


def prefill_10m(spark, fg):
    from amazon_sagemaker_feature_store_streaming_aggregation_spark import local_rows

    t = dt.datetime(2020, 1, 1)  # before every synthetic event time
    fg.upsert(
        local_rows(
            spark,
            [(streamgen.card(i), 0, 0.0, t) for i in range(streamgen.N_CARDS)],
            "cc_num long, num_trans_last_10m long, avg_amt_last_10m double, "
            "trans_time timestamp",
        )
    )


class Pipeline:
    def __init__(self, spark, fg, src, ckpt):
        self.spark, self.fg, self.src, self.ckpt = spark, fg, src, ckpt
        self.q = None

    def start(self, cap=None):
        from amazon_sagemaker_feature_store_streaming_aggregation_spark.streaming import (
            read_json_event_stream,
            sliding_agg_exact,
            start_stream_upsert,
        )

        events = read_json_event_stream(self.spark, self.src, max_files_per_trigger=cap)
        agg = sliding_agg_exact(events, key="cc_num", ts="ts", amount="amount")
        self.q = start_stream_upsert(agg, self.fg, self.ckpt, ts="ts")

    def stop(self):
        if self.q is not None:
            self.q.stop()
            self.q = None

    def alive(self):
        if self.q is not None and self.q.exception() is not None:
            raise RuntimeError(f"stream query failed: {self.q.exception()}")


def run_schedule(src, seed, first, count, n_base, rate):
    """Run the open-loop writer in its own process; returns
    ``(process, queue, t0)``."""
    ctx = multiprocessing.get_context("spawn")
    q = ctx.Queue()
    t0 = time.time() + 0.5  # leave the child time to start
    p = ctx.Process(
        target=streamgen.writer,
        args=(src, seed, first, count, n_base, rate, t0, q),
        daemon=True,
    )
    p.start()
    return p, q, t0


def finish_schedule(proc, q, timeout):
    log = q.get(timeout=timeout)  # drain before join
    proc.join(timeout=10)
    if proc.is_alive():
        proc.kill()
        proc.join()
    return log


def land_backlog(src, stage, name, seed, first, count, n_base):
    """Land files ``first .. first+count-1`` at once: write them into a
    staging directory a few ms apart (the source orders files by
    modification time), then move that directory into the source tree
    with one rename. Returns their ``(index, None, None, events)`` log
    rows."""
    d = os.path.join(stage, name)
    os.makedirs(d)
    log = []
    for i in range(first, first + count):
        data, n = streamgen.file_bytes(seed, i, n_base)
        with open(os.path.join(d, f"{i:07d}.json"), "wb") as f:
            f.write(data)
        log.append((i, None, None, n))
        time.sleep(0.003)
    os.rename(d, os.path.join(src, name))
    return log


def drain(plog, src, stage, name, seed, first, n_triggers, timeout):
    """Land ``n_triggers`` capped triggers' worth of backlog while the
    query is idle and wait until it is consumed. Returns ``(ok, files,
    rate, progress items)``; the rate is rows / (last commit - first
    trigger start)."""
    k = len(plog.items)
    files = land_backlog(src, stage, name, seed, first, DRAIN_CAP * n_triggers, DRAIN_EVENTS)
    ok = plog.wait_rows(k, sum(f[3] for f in files), timeout)
    items = [i for i in plog.items[k:] if i["rows"]]
    ok = ok and len(items) == n_triggers
    rate = None
    if ok:
        rate = sum(i["rows"] for i in items) / (items[-1]["end"] - items[0]["start"])
    return ok, files, rate, items


def run(spark, args, work, tracer, t_setup0):
    from amazon_sagemaker_feature_store_streaming_aggregation_spark.featurestore import (
        FeatureGroup,
    )

    # the query reads every directory under src: live files land in
    # src/live, each backlog arrives as a whole directory
    src, stage = os.path.join(work, "src"), os.path.join(work, "stage")
    src_glob = os.path.join(src, "*")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(os.path.join(src, "live"))
    os.makedirs(stage)
    plog = ProgressLog()
    spark.streams.addListener(plog.listener)
    fg = FeatureGroup(spark, "agg-10m", "cc_num", "trans_time", os.path.join(work, "store"))
    prefill_10m(spark, fg)
    common.log("store prefilled")
    upserts = []
    common.wrap_upsert(fg, tracer, upserts)
    pipe = Pipeline(spark, fg, src_glob, ckpt)
    seed = args.seed
    n_live = int(round(LIVE_RATE * args.seconds))
    n_warm = int(round(LIVE_RATE * WARM_LIVE_S))
    try:
        # warm-up: the first (cold) trigger and a warm drain, then a
        # live warm phase on the same schedule as the timed one
        pipe.start(cap=DRAIN_CAP)
        common.log("query started")
        w_ok, written, warm_rate, _ = drain(
            plog, src, stage, "warm", seed, 0, WARM_DRAIN_TRIGGERS,
            3 * COMMIT_TIMEOUT_S,  # the first trigger is cold
        )
        pipe.alive()
        if not w_ok:
            raise TimeoutError("warm-up drain did not commit")
        common.log("warm drain committed")
        first = len(written)
        proc, q, t_live0 = run_schedule(
            os.path.join(src, "live"), seed, first, n_warm + n_live, LIVE_EVENTS, LIVE_RATE
        )
        t_timed0 = t_live0 + n_warm / LIVE_RATE
        setup_s = t_timed0 - t_setup0
        written += finish_schedule(proc, q, (n_warm + n_live) / LIVE_RATE + COMMIT_TIMEOUT_S)
        emitted = sum(w[3] for w in written)
        live_ok = plog.wait_rows(0, emitted, COMMIT_TIMEOUT_S)
        pipe.alive()
        t_live_end = time.time()
        n_upserts_live = len(upserts)

        common.log("live phase committed")
        d_ok, d_files, catchup, d_items = drain(
            plog, src, stage, "backlog", seed, len(written), DRAIN_TRIGGERS,
            2 * COMMIT_TIMEOUT_S,
        )
        pipe.alive()
        t_drain1 = time.time()
        written += d_files
    finally:
        pipe.stop()

    common.log("drain committed")
    progress = list(plog.items)
    file_batch = source_batches(ckpt)
    batch_end = {p["batch"]: p["end"] for p in progress if p["rows"]}

    timed = [w for w in written if w[1] is not None and w[1] >= t_timed0 - 1e-6]
    fresh, late, failed = [], [], 0
    for idx, due, wrote, _n in timed:
        late.append(wrote - due)
        b = file_batch.get(f"{idx:07d}.json")
        end = batch_end.get(b)
        if wrote - due > LATE_LIMIT_S or end is None or end - due > COMMIT_TIMEOUT_S:
            failed += 1
        if end is not None:
            fresh.append(end - due)
    attempted = len(timed) + 1  # + the timed drain as one operation
    if not d_ok or catchup is None:
        failed += 1

    problems = check_batches(file_batch, written, progress)
    total_rows = sum(p["rows"] for p in progress)
    total_events = sum(w[3] for w in written)
    if total_rows != total_events:
        problems.append(f"numInputRows sum {total_rows} != {total_events} emitted")
    if not live_ok:
        problems.append("live phase did not commit every file")
    common.log("batches checked")
    problems += check_store(
        store_latest(fg), expected_latest(spark, src_glob), streamgen.N_CARDS
    )

    fr = common.timing(fresh)
    live = [p for p in progress if t_timed0 <= p["start"] <= t_live_end and p["rows"]]
    live_ms = common.median([p["ms"].get("triggerExecution", 0) for p in live])
    drain_ms = common.median([p["ms"].get("triggerExecution", 0) for p in d_items])
    live_up = [u[1] for u in upserts[:n_upserts_live] if u[0] >= t_timed0]
    detail = {
        "live_files": len(timed),
        "live_rate_files_per_s": LIVE_RATE,
        "live_events_per_s": LIVE_RATE * sum(w[3] for w in timed) / max(len(timed), 1),
        "live_triggers": len(live),
        "live_trigger_ms": [p["ms"].get("triggerExecution") for p in live],
        "live_trigger_p50_ms": live_ms,
        "freshness": fr,
        "freshness_p50_ms": fr["p50_ms"],
        "freshness_p95_ms": common.pct(fresh, 95) * 1000,
        "gen_late_p95_ms": common.pct(late, 95) * 1000,
        "catchup_events_per_s": catchup,
        "warm_catchup_events_per_s": warm_rate,
        "drain_events": sum(p["rows"] for p in d_items),
        "drain_triggers": len(d_items),
        "drain_trigger_ms": [p["ms"].get("triggerExecution") for p in d_items],
        # a live trigger is nearly all fixed cost: this is the share of a
        # drain trigger that does not scale with its events
        "drain_fixed_share": live_ms / drain_ms if drain_ms else None,
        "live_upsert_s": live_up,
        "problems": problems,
    }
    if catchup and detail["live_events_per_s"] > catchup / 4:
        problems.append(
            f"live rate {detail['live_events_per_s']:.0f} ev/s exceeds a quarter "
            f"of the catch-up rate {catchup:.0f} ev/s"
        )
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (fr["p50_ms"], "ms"),
        "throughput_per_s": (catchup or float("nan"), "1/s"),
        "write_p50_ms": (common.median(live_up) * 1000, "ms"),
    }
    return dict(
        e2e=e2e, detail=detail, attempted=attempted, failed=failed,
        correct=not problems, window=(t_timed0, t_drain1),
        live_window=(t_timed0, t_live_end),
        progress=progress, upserts=upserts, late=late,
        drain_items=d_items, file_batch=file_batch, fg=fg,
    )


def layers(tracer, jobs, res):
    t0, t1 = res["live_window"]
    live = [p for p in res["progress"] if t0 <= p["start"] <= t1]
    drained = res["drain_items"]
    ms = lambda items, k: [p["ms"].get(k, 0) for p in items]  # noqa: E731
    ups = [u for u in res["upserts"] if t0 <= u[0] <= t1]
    live_jobs = [j for j in jobs if j["start"] is not None and t0 <= j["start"] <= t1]
    live_batches = {p["batch"] for p in live}
    per_batch = {}
    for b in res["file_batch"].values():
        if b in live_batches:
            per_batch[b] = per_batch.get(b, 0) + 1
    drain_rows = sum(p["rows"] for p in drained)
    return {
        "streaming.triggers": len(live),
        "streaming.latest_offset_p50_ms": common.median(ms(live, "latestOffset")),
        "streaming.planning_p50_ms": common.median(ms(live, "queryPlanning")),
        "streaming.wal_commit_p50_ms": common.median(ms(live, "walCommit")),
        "streaming.empty_triggers": sum(1 for p in live if not p["rows"]),
        "sliding_agg.state_rows": max(
            (p["state_rows"] for p in res["progress"]), default=float("nan")
        ),
        "sliding_agg.state_mb": max(
            (p["state_bytes"] for p in res["progress"]), default=float("nan")
        ) / 1e6,
        "sliding_agg.state_commit_p50_ms": common.median(
            [p["state_commit_ms"] for p in drained]
        ),
        "streaming.add_batch_ms_per_1k_rows": (
            sum(ms(drained, "addBatch")) / (drain_rows / 1000.0) if drain_rows else float("nan")
        ),
        "featurestore.upsert.p50_ms": common.median([u[1] for u in ups]) * 1000,
        "featurestore.upsert.buckets_p50": common.median(
            [u[2] for u in ups if u[2] is not None]
        ),
        "spark.jobs_per_trigger": len(live_jobs) / len(live) if live else float("nan"),
        "gen.late_p95_ms": common.pct(res["late"], 95) * 1000,
        "backlog.max_files": max(per_batch.values(), default=float("nan")),
    }
