"""Declared training always lands inside the timed curate window.

The timed ``knn_pq_adc`` call must start with ``_PQ_TRAIN_MEMO`` empty,
even when an earlier application left an entry behind, and the curate
warm-up must call none of the timed queries.
"""

import os

import workloads as wl


def test_curate_timed_training_and_clean_warmup(tmp_path, monkeypatch):
    from polar_spark.queries import QUERIES
    from polar_spark.queries import similarity

    os.makedirs(tmp_path / "tmp", exist_ok=True)
    run = wl.Run(workload="curate", seed=0, seconds=1, trace=False,
                 work=str(tmp_path), out=str(tmp_path), cpus=2)
    calls, memo_at_call = [], []
    in_warmup = {"on": False}
    warm_calls = []

    def spy(name, fn):
        def wrapped(spark, sf_dir):
            if in_warmup["on"]:
                warm_calls.append(name)
            calls.append(name)
            if name == "knn_pq_adc":
                memo_at_call.append(dict(similarity._PQ_TRAIN_MEMO))
            return fn(spark, sf_dir)
        return wrapped

    for name in wl.CURATE_QUERIES:
        monkeypatch.setattr(QUERIES[name], "fn", spy(name, QUERIES[name].fn))
    real_warmup = wl.curate_warmup

    def watched_warmup(*a, **kw):
        in_warmup["on"] = True
        try:
            return real_warmup(*a, **kw)
        finally:
            in_warmup["on"] = False

    monkeypatch.setattr(wl, "curate_warmup", watched_warmup)
    # a stale entry, as a long-lived process would hold from an earlier app
    similarity._PQ_TRAIN_MEMO["stale:app"] = ([], 0)
    try:
        res = wl.curate(run)
    finally:
        if run.spark is not None:
            run.spark.stop()
    assert warm_calls == []
    assert calls == wl.CURATE_QUERIES  # each query exactly once
    assert memo_at_call == [{}]
    assert res.failures == [], res.failures
