"""Self-tests of the benchmark harness at tiny scale.

    python3 perfbench/selftest.py

Checks that every metric named in BENCHMARK.json is emitted with its
unit, that a run leaves no process running, that a seed fixes the
inputs byte for byte, that a checkout without the package fails fast,
that per-op Spark job counts are exact, that file-to-batch mapping
survives source-log compaction, and that every output check rejects a
deliberately corrupted result. Exits 1 on
the first failure.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402

sys.path.insert(0, common.ROOT)


def ok(cond, what):
    if not cond:
        raise AssertionError(what)
    print(f"ok  {what}", flush=True)


def test_metric_names():
    import run

    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    ok(set(e2e) == set(run.E2E), "end-to-end names match the harness")
    ok(layer == run.layer_units(), "the harness reads per-layer units from BENCHMARK.json")
    measured = {k: 1.0 for k in list(layer)[:3]}
    _, missing = run.layer_metrics(measured, layer)
    ok(not missing, "absent layers are not applicable, not missing")
    measured[next(iter(measured))] = float("nan")
    _, missing = run.layer_metrics(measured, layer)
    ok(missing, "a measured layer that is not finite is reported")
    ok({w["name"] for w in bench["workloads"]} == set(run.WORKLOADS),
       "workload names match the harness")
    return e2e, layer


def test_emitted(e2e, layer, results):
    for (wl, trace), res in results.items():
        want = layer if trace else e2e
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        ok(got == want, f"{wl} --trace {trace} emits every metric with its unit")
        ok(res["correct"] and res["failed"] == 0, f"{wl} --trace {trace} is correct")


def run_tiny(workload, trace, env):
    before = set(common.descendants(os.getpid()))
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=common.ROOT, capture_output=True, text=True, timeout=400, env=env,
    )
    ok(p.returncode == 0, f"{workload} --trace {trace} exits 0")
    ok(not set(common.descendants(os.getpid())) - before,
       f"{workload} --trace {trace} leaves no process running")
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_stream_inputs_repeat():
    import streamgen

    a = [streamgen.file_bytes(7, i, 5) for i in range(40)]
    b = [streamgen.file_bytes(7, i, 5) for i in range(40)]
    c = [streamgen.file_bytes(8, i, 5) for i in range(40)]
    ok(a == b, "stream files are byte-identical for one seed")
    ok(a != c, "stream files differ across seeds")
    times = [json.loads(line)["trans_ts"] for d, _ in a for line in d.decode().splitlines()]
    ok(times == sorted(times), "stream event times ascend across files")
    n_burst = sum(1 for i in range(200) if streamgen._burst(7, i))
    ok(5 < n_burst < 40, f"fraud bursts start in {n_burst} of 200 files")


def digest(path):
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        if name.endswith(".parquet"):
            with open(os.path.join(path, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def test_backfill_inputs_repeat(spark, work):
    import backfill

    paths = [os.path.join(work, f"tx{i}") for i in range(3)]
    for p, seed in zip(paths, (5, 5, 6)):
        backfill.make_input(spark, seed, p, n_rows=5000)
    ok(digest(paths[0]) == digest(paths[1]), "backfill parquet is byte-identical for one seed")
    ok(digest(paths[0]) != digest(paths[2]), "backfill parquet differs across seeds")
    return paths[0]


def test_backfill_check(spark, tx_path, work):
    import backfill

    tracer = common.Tracer(spark, enabled=True)
    ups = []
    fg = backfill.one_pass(spark, spark.read.parquet(tx_path), os.path.join(work, "s"),
                           "w", tracer, ups)
    want = backfill.expected_records(tx_path)
    got = backfill.store_rows(fg)
    ok(not backfill.check_store(got, want), "backfill check accepts the real store")
    bad = list(got)
    bad[0] = (bad[0][0], bad[0][1], bad[0][2] + 0.01)
    ok(backfill.check_store(bad, want), "backfill check rejects a changed average")
    ok(backfill.check_store(got + [got[1]], want), "backfill check rejects a duplicate key")
    ok(backfill.check_store(got[1:], want), "backfill check rejects a missing card")
    jobs = tracer.jobs()
    ok(common.per_span(jobs, tracer, "window_agg")["jobs"] > 0, "window_agg span owns its jobs")


def test_stream_mapping_and_checks(spark, work):
    """12 one-file batches: the source log compacts at batch 9, so the
    mapping must come from each entry's batchId."""
    import stream
    import streamgen
    from amazon_sagemaker_feature_store_streaming_aggregation_spark.featurestore import (
        FeatureGroup,
    )

    src, ckpt = os.path.join(work, "src"), os.path.join(work, "ckpt")
    os.makedirs(src)
    plog = stream.ProgressLog()
    spark.streams.addListener(plog.listener)
    fg = FeatureGroup(spark, "agg-10m", "cc_num", "trans_time", os.path.join(work, "st"))
    stream.prefill_10m(spark, fg)
    pipe = stream.Pipeline(spark, fg, src, ckpt)
    written = []
    for i in range(12):
        data, n = streamgen.file_bytes(9, i, 3 + i % 4)
        streamgen.land(src, i, data)
        written.append((i, None, None, n))
    pipe.start(cap=1)
    try:
        ok(plog.wait_rows(0, sum(w[3] for w in written), 180), "tiny stream drains")
        pipe.alive()
    finally:
        pipe.stop()
        spark.streams.removeListener(plog.listener)
    logs = [n for n in os.listdir(os.path.join(ckpt, "sources", "0")) if n[0] != "."]
    ok(any(n.endswith(".compact") for n in logs), "source log was compacted")
    fb = stream.source_batches(ckpt)
    ok(len(set(fb.values())) == 12, "each file maps to its own batch")
    ok(not stream.check_batches(fb, written, plog.items), "batch check accepts the real run")
    by_name = {}
    for name in logs:  # the wrong way: a log file's name as the batch id
        b = int(name.split(".")[0])
        with open(os.path.join(ckpt, "sources", "0", name)) as f:
            for line in f:
                if line.startswith("{"):
                    by_name[os.path.basename(json.loads(line)["path"])] = b
    ok(stream.check_batches(by_name, written, plog.items),
       "batch check rejects mapping by log file name")
    want = stream.expected_latest(spark, src)
    got = stream.store_latest(fg)
    ok(not stream.check_store(got, want, streamgen.N_CARDS), "stream store check accepts the real store")
    c = next(iter(want))
    bad = dict(got)
    bad[c] = (bad[c][0], bad[c][1] + 1, bad[c][2])
    ok(stream.check_store(bad, want, streamgen.N_CARDS), "stream store check rejects a changed count")
    return fg


def test_online(spark, fg10, work):
    import online

    tracer = common.Tracer(spark, enabled=True)
    puts, decs, problems = online.phase(spark, fg10, work, 4, tracer, 4, n_warm=1)
    ok(not problems, f"online checks accept the real path {problems}")
    jobs = tracer.jobs()
    counts = {
        name: common.per_span(jobs, tracer, name)["jobs_exact"]
        for name in ("featurestore.get_record", "featurestore.put_record", "scoring")
    }
    print("    per-op jobs", counts)
    ok(set(counts["featurestore.get_record"]) == {3}, "get_record: exactly 3 jobs each")
    ok(set(counts["featurestore.put_record"]) == {3}, "put_record: exactly 3 jobs each")
    ok(set(counts["scoring"]) == {0}, "scoring: no jobs (local relation)")

    # a lookup cache that serves stale records must fail the read-back
    # check: fill it, before the puts, for the cards the client will draw
    drawer = online.Client(spark, fg10, None, None, 4, tracer)
    cards = {drawer.next_txn()["cc_num"] for _ in range(3)}
    real_get = fg10.get_record
    cache = {c: real_get(c) for c in cards}
    fg10.get_record = lambda key: cache[key] if key in cache else real_get(key)
    try:
        _, _, problems = online.phase(
            spark, fg10, os.path.join(work, "stale"), 4, common.Tracer(spark, False), 3,
            n_warm=0,
        )
    finally:
        fg10.get_record = real_get
    ok(any("own put" in p for p in problems), "online check rejects a stale lookup cache")

    real_score = online.batch_probabilities

    def skewed(*a, **kw):
        return {k: (v or 0.0) + 1e-9 for k, v in real_score(*a, **kw).items()}

    online.batch_probabilities = skewed
    try:
        _, _, problems = online.phase(
            spark, fg10, os.path.join(work, "prob"), 4, common.Tracer(spark, False), 2,
            n_warm=0,
        )
    finally:
        online.batch_probabilities = real_score
    ok(any("batch path" in p for p in problems), "online check rejects a differing probability")


def test_no_package():
    d = tempfile.mkdtemp(prefix="perfbench-nopkg-", dir=common.WORK_ROOT)
    try:
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(common.ROOT, "BENCHMARK.json"), d)
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "backfill", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=d, capture_output=True, text=True, timeout=180,
        )
        ok(p.returncode != 0 and not p.stdout.strip() and time.time() - t0 < 30,
           "a checkout without the package fails fast without a result")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def main():
    # a process a run leaves behind is re-parented here, where it is seen
    common.set_subreaper()
    os.makedirs(common.WORK_ROOT, exist_ok=True)
    test_no_package()
    e2e, layer = test_metric_names()
    test_stream_inputs_repeat()
    work = tempfile.mkdtemp(prefix="selftest-", dir=common.WORK_ROOT)
    spark = None
    try:
        common.host_settings(work)
        spark = common.get_session("perfbench-selftest")
        tx = test_backfill_inputs_repeat(spark, work)
        test_backfill_check(spark, tx, work)
        fg10 = test_stream_mapping_and_checks(spark, work)
        test_online(spark, fg10, work)
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    env = dict(os.environ)
    results = {
        (wl, tr): run_tiny(wl, tr, env) for wl in ("backfill", "stream") for tr in (0, 1)
    }
    test_emitted(e2e, layer, results)
    print("all self-tests passed")


if __name__ == "__main__":
    main()
