"""Closed-loop point path, one client: per transaction a ``put_record``
of the 10-minute features (as the streaming ingest Lambda does), then a
decision on the same card: ``get_record`` on the 10-minute and 1-week
stores, ``with_guarded_inference_ratios`` -> ``score`` ->
``threshold_classify``. Cards are Zipf-skewed (s = 1.1 over 10 k)."""

from __future__ import annotations

import bisect
import datetime as dt
import random

import streamgen

ZIPF_S = 1.1
STALE_S = 600


def zipf_sampler(rng, n=streamgen.N_CARDS, s=ZIPF_S):
    cum, acc = [], 0.0
    for k in range(1, n + 1):
        acc += 1.0 / k**s
        cum.append(acc)

    def draw():
        return streamgen.card(bisect.bisect_left(cum, rng.random() * acc))

    return draw


def prefill_1w(spark, fg, seed):
    from amazon_sagemaker_feature_store_streaming_aggregation_spark import local_rows

    rng = random.Random(f"{seed}:1w")
    t = dt.datetime(2020, 1, 1)
    fg.upsert(
        local_rows(
            spark,
            [
                (streamgen.card(i), rng.randint(1, 50), round(rng.uniform(5, 500), 2), t)
                for i in range(streamgen.N_CARDS)
            ],
            "cc_num long, num_trans_last_1w long, avg_amt_last_1w double, "
            "trans_time timestamp",
        )
    )


def train_model(spark):
    from amazon_sagemaker_feature_store_streaming_aggregation_spark import local_rows
    from amazon_sagemaker_feature_store_streaming_aggregation_spark.plans.scoring import (
        train_fraud_model,
    )

    train = local_rows(
        spark,
        [(float(5 + i), 1.0 + i / 10.0, 1.0 + i / 5.0, 0.1 * i, i % 2) for i in range(20)],
        "amount double, amt_ratio1 double, amt_ratio2 double, "
        "count_ratio double, fraud_label int",
    )
    return train_fraud_model(train, max_iter=5)


class Client:
    def __init__(self, spark, fg10, fg1w, model, seed, tracer):
        self.spark, self.fg10, self.fg1w, self.model = spark, fg10, fg1w, model
        self.tracer = tracer
        self.rng = random.Random(f"{seed}:online")
        self.draw = zipf_sampler(self.rng)

    def next_txn(self):
        c = self.draw()
        n = self.rng.randint(1, 8)
        return {
            "cc_num": c,
            "amount": streamgen._amount(self.rng),
            "num_trans_last_10m": n,
            "avg_amt_last_10m": round(self.rng.uniform(1, 300), 2),
        }

    def put(self, txn):
        rec = {
            "cc_num": txn["cc_num"],
            "num_trans_last_10m": txn["num_trans_last_10m"],
            "avg_amt_last_10m": txn["avg_amt_last_10m"],
            "trans_time": dt.datetime.now().replace(microsecond=0),
        }
        with self.tracer.span("featurestore.put_record"):
            self.fg10.put_record(rec)
        return rec

    def decide(self, txn, now):
        from pyspark.sql import functions as F

        from amazon_sagemaker_feature_store_streaming_aggregation_spark import local_rows
        from amazon_sagemaker_feature_store_streaming_aggregation_spark.operators.ratios import (
            with_guarded_inference_ratios,
        )
        from amazon_sagemaker_feature_store_streaming_aggregation_spark.plans.inference import (
            threshold_classify,
        )
        from amazon_sagemaker_feature_store_streaming_aggregation_spark.plans.scoring import (
            score,
        )

        c = txn["cc_num"]
        with self.tracer.span("featurestore.get_record"):
            r10 = self.fg10.get_record(c)
        with self.tracer.span("featurestore.get_record"):
            r1w = self.fg1w.get_record(c)
        with self.tracer.span("scoring"):
            stale = r10 is None or (now - r10["trans_time"]).total_seconds() > STALE_S
            n10 = 0 if stale else r10["num_trans_last_10m"]
            a10 = 0.0 if stale else r10["avg_amt_last_10m"]
            row = local_rows(
                self.spark,
                [(c, txn["amount"], n10, a10,
                  r1w["num_trans_last_1w"] if r1w else 0,
                  r1w["avg_amt_last_1w"] if r1w else 0.0)],
                "cc_num long, amount double, num_trans_last_10m long, "
                "avg_amt_last_10m double, num_trans_last_1w long, "
                "avg_amt_last_1w double",
            )
            out = threshold_classify(
                score(
                    with_guarded_inference_ratios(row, invalid=F.lit(stale)),
                    self.model,
                )
            ).select("probability", "prediction").collect()[0]
        return r10, out["probability"], out["prediction"]


def batch_probabilities(spark, fg10, fg1w, model, decisions):
    """The batch path for ``decisions`` ((txn, now) pairs, one per card,
    each the card's newest): ``enrich_transactions`` over
    ``get_latest()`` of both stores, then ``score``."""
    from pyspark.sql import functions as F

    from amazon_sagemaker_feature_store_streaming_aggregation_spark import local_rows
    from amazon_sagemaker_feature_store_streaming_aggregation_spark.plans.inference import (
        enrich_transactions,
    )
    from amazon_sagemaker_feature_store_streaming_aggregation_spark.plans.scoring import (
        score,
    )

    out = {}
    for txn, now in decisions:
        tx = local_rows(spark, [(txn["cc_num"], txn["amount"])], "cc_num long, amount double")
        r = score(
            enrich_transactions(
                tx, fg10.get_latest(), fg1w.get_latest(), now=F.lit(now)
            ),
            model,
        ).select("probability").collect()
        out[txn["cc_num"]] = r[0][0] if len(r) == 1 else None
    return out


def phase(spark, fg10, work, seed, tracer, n_decisions, n_warm=2, n_checked=4):
    """Run ``n_warm`` untimed then ``n_decisions`` timed put + decision
    iterations against ``fg10`` and a fresh prefilled 1-week store.
    Returns (put seconds, decision seconds, problems)."""
    import os
    import time

    from amazon_sagemaker_feature_store_streaming_aggregation_spark.featurestore import (
        FeatureGroup,
    )

    fg1w = FeatureGroup(spark, "agg-1w", "cc_num", "trans_time", os.path.join(work, "store"))
    prefill_1w(spark, fg1w, seed)
    client = Client(spark, fg10, fg1w, train_model(spark), seed, tracer)
    puts, decisions, problems, last = [], [], [], {}
    for i in range(n_warm + n_decisions):
        txn = client.next_txn()
        t0 = time.perf_counter()
        rec = client.put(txn)
        t1 = time.perf_counter()
        now = dt.datetime.now()
        r10, prob, pred = client.decide(txn, now)
        t2 = time.perf_counter()
        if i >= n_warm:
            puts.append(t1 - t0)
            decisions.append(t2 - t1)
        if r10 is None or any(r10[k] != v for k, v in rec.items()):
            problems.append(f"decision {i} read {r10}, its own put was {rec}")
        if prob is None or pred not in ("FRAUD", "NOT FRAUD"):
            problems.append(f"decision {i} unscored: {prob!r} {pred!r}")
        last[txn["cc_num"]] = (txn, now, prob)
    sample = list(last.values())[-n_checked:]
    batch = batch_probabilities(spark, fg10, fg1w, model=client.model,
                                decisions=[(t, n) for t, n, _ in sample])
    for txn, _now, prob in sample:
        if batch.get(txn["cc_num"]) != prob:
            problems.append(
                f"card {txn['cc_num']}: point path {prob} != batch path "
                f"{batch.get(txn['cc_num'])}"
            )
    return puts, decisions, problems
