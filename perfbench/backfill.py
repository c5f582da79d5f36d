"""``backfill`` workload: closed-loop E1 passes into a fresh 1-week store.

Input: the G1-G5 generator shape (10 k cards over five months, fraud
chains injected), materialised as parquet before timing. Each pass is
``agg_features_query(keep_cent_sums=True)`` -> persist + force ->
``batch_feature_records`` -> ``FeatureGroup.upsert`` into a new store.
"""

from __future__ import annotations

import os
import time

import common

N_ROWS = 100_000
N_CARDS = 10_000
# pass times keep falling over the first passes (JIT warm-up)
WARM_PASSES = 3
MIN_PASSES = 4


def make_input(spark, seed, path, n_rows=N_ROWS):
    from amazon_sagemaker_feature_store_streaming_aggregation_spark.sources.generator import (
        gen_transactions,
        inject_fraud_chains,
    )

    tx = inject_fraud_chains(
        gen_transactions(spark, n=n_rows, n_cards=N_CARDS, seed=seed, partitions=4),
        seed=seed,
    )
    # one sorted file: byte-identical for a seed (same rows, same order)
    tx.orderBy("tid", "datetime", "amount").coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def one_pass(spark, tx, store_dir, name, tracer, upserts):
    from pyspark.storagelevel import StorageLevel

    from amazon_sagemaker_feature_store_streaming_aggregation_spark.featurestore import (
        FeatureGroup,
    )
    from amazon_sagemaker_feature_store_streaming_aggregation_spark.operators import (
        agg_features_query,
    )
    from amazon_sagemaker_feature_store_streaming_aggregation_spark.plans import (
        batch_feature_records,
    )

    with tracer.span("window_agg"):
        agg = agg_features_query(tx, keep_cent_sums=True).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        agg.count()
    try:
        fg = common.wrap_upsert(
            FeatureGroup(spark, name, "cc_num", "trans_time", store_dir),
            tracer,
            upserts,
        )
        fg.upsert(batch_feature_records(agg))
    finally:
        agg.unpersist()
    return fg


def expected_records(parquet_path):
    """DuckDB recomputation: per card, the trailing-week count and the
    half-up 2-dp average at the card's latest transaction."""
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(
            f"""
            WITH t AS (
              SELECT cc_num, epoch_us(datetime) AS us,
                     CAST(round(amount * 100) AS BIGINT) AS cents
              FROM read_parquet('{parquet_path}/*.parquet')
              WHERE cc_num IS NOT NULL),
            last AS (SELECT cc_num, max(us) AS us FROM t GROUP BY cc_num)
            SELECT l.cc_num, count(*) AS n,
                   CAST((2 * sum(t.cents) + count(*)) // (2 * count(*)) AS DOUBLE)
                     / 100.0 AS avg
            FROM last l JOIN t ON t.cc_num = l.cc_num
             AND t.us BETWEEN l.us - {7 * 24 * 3600 * 1_000_000} AND l.us
            GROUP BY l.cc_num ORDER BY l.cc_num
            """
        ).fetchall()
    finally:
        con.close()


def check_store(got_rows, expected):
    """``got_rows``: (cc_num, num_trans_last_1w, avg_amt_last_1w) tuples
    read from the store. Returns a list of problems (empty = correct)."""
    problems = []
    keys = [r[0] for r in got_rows]
    if len(keys) != len(set(keys)):
        problems.append(f"{len(keys) - len(set(keys))} duplicate keys in store")
    got = {r[0]: (int(r[1]), float(r[2])) for r in got_rows}
    want = {r[0]: (int(r[1]), float(r[2])) for r in expected}
    if set(got) != set(want):
        problems.append(
            f"key sets differ: {len(set(got) - set(want))} extra, "
            f"{len(set(want) - set(got))} missing"
        )
    bad = [k for k in want if k in got and got[k] != want[k]]
    if bad:
        k = bad[0]
        problems.append(f"{len(bad)} records differ, e.g. {k}: {got[k]} != {want[k]}")
    return problems


def store_rows(fg):
    return [
        tuple(r)
        for r in fg.get_latest()
        .select("cc_num", "num_trans_last_1w", "avg_amt_last_1w")
        .collect()
    ]


def run(spark, args, work, tracer, t_setup0):
    tx_path = os.path.join(work, "tx")
    store_dir = os.path.join(work, "stores")
    tx = make_input(spark, args.seed, tx_path)
    n_rows = tx.count()
    upserts = []
    for i in range(WARM_PASSES):
        one_pass(spark, tx, store_dir, f"warm{i}", tracer, upserts)
        common.rm_tree(os.path.join(store_dir, f"warm{i}"))
    tracer.spans.clear()
    del upserts[:]
    setup_s = time.time() - t_setup0

    passes, fg, attempted, failed = [], None, 0, 0
    t_start = time.time()
    deadline = time.perf_counter() + args.seconds
    i = 0
    while time.perf_counter() < deadline or len(passes) < MIN_PASSES:
        attempted += 1
        t0 = time.perf_counter()
        try:
            fg = one_pass(spark, tx, store_dir, f"pass{i}", tracer, upserts)
        except Exception as exc:  # a failed pass counts, the run goes on
            failed += 1
            common.log(f"pass {i} failed: {exc!r}")
        else:
            passes.append(time.perf_counter() - t0)
            if i:  # keep only the newest store on disk
                common.rm_tree(os.path.join(store_dir, f"pass{i - 1}"))
        i += 1
    t_end = time.time()

    problems = ["no pass completed"] if fg is None else check_store(
        store_rows(fg), expected_records(tx_path)
    )
    pass_t = common.timing(passes)
    detail = {
        "input_rows": n_rows,
        "passes": passes,
        "pass": pass_t,
        "backfill_rows_per_s": n_rows / common.median(passes),
        "upsert_s": [u[1] for u in upserts],
        "problems": problems,
    }
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (pass_t["p50_ms"], "ms"),
        "throughput_per_s": (detail["backfill_rows_per_s"], "1/s"),
        "write_p50_ms": (
            common.median([u[1] for u in upserts]) * 1000, "ms"
        ),
    }
    return dict(
        e2e=e2e, detail=detail, attempted=attempted, failed=failed,
        correct=not problems, window=(t_start, t_end),
        n_ops=len(passes), upserts=upserts,
    )


def layers(tracer, jobs, res):
    n = res["n_ops"] or float("nan")
    wa = common.per_span(jobs, tracer, "window_agg")
    up = common.per_span(jobs, tracer, "featurestore.upsert")
    return {
        "window_agg.s": common.median(tracer.durations("window_agg")),
        "window_agg.jobs": wa["jobs"],
        "window_agg.shuffle_mb": wa["shuffle_mb"] / n,
        "window_agg.spill_mb": wa["spill_mb"] / n,
        "featurestore.upsert.s": common.median(
            tracer.durations("featurestore.upsert")
        ),
        "featurestore.upsert.jobs": up["jobs"],
        "featurestore.upsert.write_mb": up["write_mb"] / n,
        "featurestore.upsert.buckets": common.median(
            [u[2] for u in res["upserts"] if u[2] is not None]
        ),
    }
