"""The benchmark's workloads: serve, bulk and curate.

Each workload function takes a :class:`Run` and returns a
:class:`Result`: the end-to-end metrics, the per-layer metrics (traced
runs), the workload's own named figures and the correctness verdict.
The engine (Spark driver, ``PolarEngine``, ``PolarRestServer``) runs in
this process; inputs and HTTP load come from the seeded generator
process (``gen.py``).
"""

from __future__ import annotations

import contextlib
import gc
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
GEN = os.path.join(HERE, "gen.py")
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import SparkCounters, Tracer, install  # noqa: E402

CURATE_QUERIES = [
    "dedup_minhash_verified",
    "dedup_simhash",
    "bpe_train_merges",
    "semdedup_lsh_prune",
    "knn_pq_adc",
]
# set-up repetitions per run; setup_s is their median. The first one
# also launches the JVM.
SETUPS = 5
PRODUCE_ACK_LIMIT_MS = 50.0
# traced runs alternate untraced (False) and traced (True) parts
TRACE_ORDER = (False, True, True, False)
# serve's closed-loop produce phase, as a share of --seconds
SAT_SHARE = 0.3


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str  # scratch directory inside the checkout
    out: str  # where traced runs write their spans
    cpus: int
    spark: object = None
    t0: float = field(default_factory=time.perf_counter)

    def phase(self, name: str) -> None:
        """Log a phase boundary to stderr with the time since start."""
        print(f"perfbench: {time.perf_counter() - self.t0:7.2f}s {name}",
              file=sys.stderr, flush=True)


@dataclass
class Result:
    e2e: dict = field(default_factory=dict)  # name -> value
    layer: dict = field(default_factory=dict)  # name -> value
    named: dict = field(default_factory=dict)  # name -> (value, unit)
    failures: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    notes: list = field(default_factory=list)


# -- small helpers -----------------------------------------------------------


def pct(values, q: float) -> float:
    """Linear-interpolated percentile (q in 0..100); 0.0 when empty."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def start_gen(run: Run, args: list[str]) -> subprocess.Popen:
    """Start the generator as its own process."""
    return subprocess.Popen([sys.executable, GEN, *args], cwd=run.work)


def wait_gen(proc: subprocess.Popen, timeout: float) -> None:
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError("generator timed out") from None
    if code != 0:
        raise RuntimeError(f"generator exited with {code}")


def run_gen(run: Run, args: list[str], timeout: float) -> None:
    """Run the generator as its own process and wait for it."""
    wait_gen(start_gen(run, args), timeout)


def start_spark(run: Run):
    """(Re)start the engine's Spark application via the program's own
    session factory. A previous application is stopped first, so each
    call is one full application start inside the same JVM."""
    from polar_spark.session import get_spark

    if run.spark is not None:
        run.spark.stop()
    conf = {
        # keep the JVM's temporary files, perf counters included, in the
        # checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run.work}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if run.trace:
        # shuffle bytes come from the UI REST API, which needs the UI
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
    run.spark = get_spark(
        app_name=f"perfbench-{run.workload}",
        shuffle_partitions=run.cpus,
        extra_conf=conf,
    )
    return run.spark


def retained_mb(run: Run, res: "Result") -> float:
    """Memory the engine holds at the end of the run, in MiB: JVM heap in
    use after full collections, plus JVM non-heap in use, plus the
    driver process's resident set. Peak figures (JVM ``VmHWM``, driver
    ``ru_maxrss``) are recorded as named figures; the JVM peak depends on
    when the collector grows the heap and varies too much between runs
    to gate on."""
    import resource

    jvm = run.spark._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    hwm_kb = _status_kb(f"/proc/{pid}/status", "VmHWM:")
    peak_kb = hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    # Python first: dropped DataFrames release their JVM objects only when
    # their py4j proxies are collected. Each JVM collection then lets
    # Spark's ContextCleaner release what the driver no longer references,
    # which the next one reclaims; collect until the heap has stopped
    # shrinking twice in a row (three to five rounds), or the figure moves
    # in steps of what the cleaner had not reached yet
    gc.collect()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap, steady = None, 0
    for _ in range(10):
        jvm.java.lang.System.gc()
        used = mem.getHeapMemoryUsage().getUsed()
        steady = steady + 1 if heap is not None and heap - used < 2**20 else 0
        heap = used
        if steady == 2:
            break
        time.sleep(0.3)
    nonheap = mem.getNonHeapMemoryUsage().getUsed()
    jvm_used = heap + nonheap
    driver_kb = _status_kb("/proc/self/status", "VmRSS:")
    res.named["jvm_heap_mb"] = (heap / 2**20, "MiB")
    res.named["jvm_nonheap_mb"] = (nonheap / 2**20, "MiB")
    res.named["driver_rss_mb"] = (driver_kb / 1024.0, "MiB")
    res.named["peak_rss_mb"] = (peak_kb / 1024.0, "MiB")
    res.named["jvm_hwm_mb"] = (hwm_kb / 1024.0, "MiB")
    return jvm_used / 2**20 + driver_kb / 1024.0


def _status_kb(path: str, field_name: str) -> int:
    with open(path) as f:
        for line in f:
            if line.startswith(field_name):
                return int(line.split()[1])
    raise RuntimeError(f"{field_name} missing from {path}")


def dir_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def topic_layout(catalog, topic: str) -> tuple[float, int]:
    """(data files per partition, data bytes) of one topic."""
    d = catalog.data_dir(topic)
    parts = [p for p in os.listdir(d) if p.startswith("partition=")]
    files = sum(
        1
        for p in parts
        for f in os.listdir(os.path.join(d, p))
        if f.endswith(".parquet")
    )
    return files / max(1, len(parts)), dir_bytes(d)


# -- serve ---------------------------------------------------------------------


def _serve_setup(run: Run, i: int):
    import http.client

    from polar_spark.api import PolarEngine
    from polar_spark.rest import PolarRestServer

    spark = start_spark(run)
    engine = PolarEngine(spark, os.path.join(run.work, f"serve-{i}"))
    server = PolarRestServer(engine).start()
    # light warm touch through every serve-path layer, on its own topic
    conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=30)
    try:
        for method, path, body in (
            ("GET", "/status", None),
            ("POST", "/v1/topic/warm/messages?partitionKey=w", b'{"id":0}\n{"id":1}'),
            ("PUT", "/v1/consumer/register?consumerId=w&topic=warm"
             "&onNewGroup=startFromEarliest", None),
            ("POST", "/v1/consumer/poll?consumerId=w", None),
            ("POST", "/v1/consumer/poll?consumerId=w", None),
        ):
            conn.request(method, path, body=body,
                         headers={"Content-Type": "application/x-ndjson"})
            r = conn.getresponse()
            r.read()
            if r.status not in (200, 204):
                raise RuntimeError(f"serve warm-up {path}: HTTP {r.status}")
    finally:
        conn.close()
    return engine, server


def _serve_window(run: Run, server, topic: str, seconds: float, seed: int,
                  sat_seconds: float = 0.0) -> dict:
    path = os.path.join(run.work, f"{topic}.json")
    run_gen(
        run,
        ["serve", "--port", str(server.port), "--seconds", str(seconds),
         "--seed", str(seed), "--topic", topic, "--out", path,
         "--sat-seconds", str(sat_seconds)],
        timeout=seconds + sat_seconds + 90,
    )
    with open(path) as f:
        return json.load(f)


def _serve_figures(windows: list[dict]) -> dict:
    """Named serve figures from one or more generator windows."""
    reqs = [r for w in windows for r in w["requests"]]
    ok = [r for r in reqs if r[5] == 200]
    rec_polls = [p for w in windows for p in w["polls"] if p[2] > 0]
    deliver_ms = []
    for w in windows:
        first: dict[int, list] = {}
        for m in w["received"]:
            first.setdefault(m[0], m)
        deliver_ms.extend((m[1] - m[2]) / 1000 for m in first.values())
    # per window: from its schedule origin to its last ack
    span = sum(max((r[4] for r in w["requests"] if r[5] == 200), default=0.0)
               for w in windows)
    offered = sum(len(w["requests"]) + w["unsent"] for w in windows)
    return {
        # from the scheduled send time, so generator lateness counts
        "ack_ms": [(r[4] - r[2]) * 1000 for r in ok],
        # from the actual send: the HTTP round trip
        "rtt_ms": [(r[4] - r[3]) * 1000 for r in ok],
        "poll_ms": [(p[1] - p[0]) * 1000 for p in rec_polls],
        "deliver_ms": deliver_ms,
        "late_ms": [(r[3] - r[2]) * 1000 for r in reqs],
        "acked": len(ok),
        "record_polls": len(rec_polls),
        "polls": sum(len(w["polls"]) for w in windows),
        "records_per_poll": [p[2] for p in rec_polls],
        "offered_req_per_s": offered / sum(w["seconds"] for w in windows),
        "achieved_req_per_s": len(ok) / span if span else 0.0,
    }


def _serve_check(data: dict, res: Result) -> None:
    """Every acked message is delivered, nothing unacked is delivered,
    and per key, delivery order equals produce order."""
    per = data["msgs_per_req"]
    acked_ids = set()
    for r in data["requests"]:
        if r[5] == 200:
            acked_ids.update(range(r[0] * per, (r[0] + 1) * per))
    pos: dict[int, int] = {}
    for i, m in enumerate(data["received"]):
        pos.setdefault(m[0], i)
    missing = acked_ids - pos.keys()
    if missing:
        res.failures.append(f"serve: {len(missing)} acked messages never delivered")
    stray = pos.keys() - acked_ids
    if stray:
        res.failures.append(f"serve: {len(stray)} unacked ids delivered")
    # per key: messages of one request keep their order, and a request
    # acked before another was sent is delivered before it
    by_key: dict[str, list] = {}
    for r in data["requests"]:
        if r[5] == 200:
            by_key.setdefault(r[1], []).append(r)
    bad = 0
    for reqs in by_key.values():
        spans = {}
        for r in reqs:
            ps = [pos.get(m, -1) for m in range(r[0] * per, (r[0] + 1) * per)]
            if ps != sorted(ps):
                bad += 1
            spans[r[0]] = (min(ps), max(ps))
        for a in reqs:
            for b in reqs:
                if a[4] < b[3] and spans[a[0]][1] > spans[b[0]][0]:
                    bad += 1
    if bad:
        res.failures.append(f"serve: {bad} per-key order violations")
    if data["errors"]:
        res.failures.append(f"serve: generator errors: {data['errors'][:3]}")


def topic_rows(catalog, topic: str) -> int:
    """Rows in a topic's published data files, from their footers."""
    import pyarrow.parquet as pq

    d = catalog.data_dir(topic)
    return sum(
        pq.read_metadata(os.path.join(d, p, f)).num_rows
        for p in os.listdir(d)
        if p.startswith("partition=")
        for f in os.listdir(os.path.join(d, p))
        if f.endswith(".parquet")
    )


def _sat_figures(engine, data: dict, res: Result) -> float:
    """Acked messages per second of the closed loop, after checking that
    every request was acked and the topic holds exactly the acked
    messages."""
    sat = data["sat"]
    ok = [r for r in sat["requests"] if r[1] == 200]
    res.attempted += len(sat["requests"])
    res.failed += len(sat["requests"]) - len(ok)
    if not ok or len(ok) != len(sat["requests"]):
        res.failures.append(
            f"serve: closed loop acked {len(ok)} of {len(sat['requests'])} requests"
        )
    msgs = len(ok) * data["msgs_per_req"]
    stored = topic_rows(engine.catalog, sat["topic"])
    if stored != msgs:
        res.failures.append(f"serve: closed loop acked {msgs} messages, topic holds {stored}")
    res.named["saturated_produce_requests"] = (len(ok), "count")
    return msgs / max((r[3] for r in ok), default=1.0)


def serve(run: Run) -> Result:
    res = Result()
    times = []
    engine = server = None
    for i in range(SETUPS):
        if server is not None:
            server.stop()
        t0 = time.perf_counter()
        engine, server = _serve_setup(run, i)
        times.append(time.perf_counter() - t0)
    res.e2e["setup_s"] = median(times)
    res.named["setup_cold_s"] = (time.perf_counter() - run.t0, "s")
    tracer = Tracer() if run.trace else None
    base: list[dict] = []
    traced: list[dict] = []
    try:
        if run.trace:
            # untraced and traced quarters in ABBA order, so the JVM's
            # warming over the run cancels out of the tracing overhead
            for k, on in enumerate(TRACE_ORDER):
                if on:
                    install(tracer)
                try:
                    w = _serve_window(run, server, f"serve-{k}", run.seconds / 4,
                                      seed=run.seed * 4 + k)
                finally:
                    if on:
                        tracer.unwrap_all()
                (traced if on else base).append(w)
        else:
            base.append(_serve_window(run, server, "serve", run.seconds, run.seed,
                                      sat_seconds=SAT_SHARE * run.seconds))
    finally:
        server.stop()
    windows = base + traced
    for w in windows:
        _serve_check(w, res)
    fig = _serve_figures(traced if run.trace else base)
    if fig["acked"] == 0 or not fig["deliver_ms"]:
        res.failures.append("serve: no acked or delivered messages")
    res.attempted = sum(len(w["requests"]) + w["unsent"] + len(w["polls"]) for w in windows)
    res.failed = sum(
        len(w["requests"]) - sum(1 for r in w["requests"] if r[5] == 200)
        + w["unsent"] + len(w["errors"])
        for w in windows
    )
    res.e2e.update(
        latency_ms_p50=median(fig["deliver_ms"]),
        # the 16 messages of a request share one stamp and one receipt, so
        # a run has ~200 independent samples: p95 is the highest
        # percentile with ten beyond it
        latency_ms_tail=pct(fig["deliver_ms"], 95),
        throughput_msgs_per_s=0.0 if run.trace else _sat_figures(engine, base[0], res),
        retained_mb=retained_mb(run, res),
    )
    p99 = pct(fig["ack_ms"], 99)
    res.named.update(
        {
            "produce_ack_ms_p50": (median(fig["ack_ms"]), "ms"),
            "produce_ack_ms_p95": (pct(fig["ack_ms"], 95), "ms"),
            "produce_ack_ms_p99": (p99, "ms"),
            "produce_acks": (fig["acked"], "count"),
            "poll_ms_p50": (median(fig["poll_ms"]), "ms"),
            "poll_ms_p95": (pct(fig["poll_ms"], 95), "ms"),
            "record_polls": (fig["record_polls"], "count"),
            "deliver_ms_p50": (median(fig["deliver_ms"]), "ms"),
            "deliver_ms_p95": (pct(fig["deliver_ms"], 95), "ms"),
            "deliver_ms_p99": (pct(fig["deliver_ms"], 99), "ms"),
            "delivered_msgs": (len(fig["deliver_ms"]), "count"),
        }
    )
    res.notes.append(
        f"produce_ack_ms_p99 limit {PRODUCE_ACK_LIMIT_MS:.0f} ms: "
        f"{'met' if p99 <= PRODUCE_ACK_LIMIT_MS else 'missed'} "
        f"({p99:.1f} ms over {fig['acked']} acks)"
    )
    last_topic = f"serve-{len(TRACE_ORDER) - 1}" if run.trace else "serve"
    files_pp, data_bytes = topic_layout(engine.catalog, last_topic)
    last_acked = sum(1 for r in windows[-1]["requests"] if r[5] == 200)
    all_fig = _serve_figures(windows)
    res.layer.update(
        {
            "topics.files_per_partition": files_pp,
            "topics.disk_bytes_per_user_byte": data_bytes
            / max(1, last_acked * windows[-1]["msgs_per_req"] * gen.MSG_BYTES),
            "bench.generator_late_ms_p99": pct(all_fig["late_ms"], 99),
            "bench.offered_req_per_s": all_fig["offered_req_per_s"],
            "bench.achieved_req_per_s": all_fig["achieved_req_per_s"],
        }
    )
    if run.trace:
        bfig = _serve_figures(base)
        api_p50 = median(tracer.durations_ms("api.produce_rows"))
        api_poll = tracer.durations_ms("api.poll")
        status_p50 = median([x for w in traced for x in w["status_rtt_ms"]])
        polls = max(1, len(tracer.durations_ms("consume.group_poll")))
        reads = tracer.counts.get("consume.parquet_reads", 0)
        n_polls = fig["polls"]
        empty = n_polls - fig["record_polls"]
        res.layer.update(
            {
                "rest.status_rtt_ms_p50": status_p50,
                "rest.produce_self_ms_p50": median(fig["rtt_ms"]) - api_p50,
                "rest.poll_self_ms_p50": median(fig["poll_ms"]) - median(api_poll),
                "api.produce_rows_ms_p50": api_p50,
                "api.produce_rows_ms_p99": pct(tracer.durations_ms("api.produce_rows"), 99),
                "api.poll_self_ms_p50": median(tracer.self_ms("api.poll")),
                "produce.rows_self_ms_p50": median(tracer.self_ms("produce.produce_rows")),
                "produce.rows_self_ms_p99": pct(tracer.self_ms("produce.produce_rows"), 99),
                "consume.group_poll_ms_p50": median(tracer.durations_ms("consume.group_poll")),
                "consume.group_poll_ms_p99": pct(tracer.durations_ms("consume.group_poll"), 99),
                "consume.items_ms_p50": median(tracer.durations_ms("consume.items")),
                "consume.commit_ms_p50": median(tracer.durations_ms("consume.commit")),
                "consume.parquet_reads_per_poll": reads / polls,
                "consume.records_per_poll_p50": median(fig["records_per_poll"]),
                "consume.empty_poll_ratio": empty / max(1, n_polls),
                "bench.tracing_overhead_pct": _overhead(
                    res, median(bfig["deliver_ms"]), median(fig["deliver_ms"])
                ),
            }
        )
        _topic_layers(tracer, res)
        rest_self = res.layer["rest.produce_self_ms_p50"]
        owner = "api" if api_p50 >= rest_self else "rest"
        res.notes.append(
            f"serve produce latency owner: {owner} (api.produce_rows_ms_p50 "
            f"{api_p50:.1f} ms, rest.produce_self_ms_p50 {rest_self:.1f} ms; "
            f"facade floor rest.status_rtt_ms_p50 {status_p50:.1f} ms)"
        )
        tracer.dump(os.path.join(run.out, f"serve-{run.seed}-spans.jsonl"))
    return res


def _overhead(res: Result, untraced: float, traced: float) -> float:
    """Traced over untraced, in percent. A negative figure means the
    difference is below the run's own noise; it is noted as unresolved."""
    pct_ = (traced / untraced - 1.0) * 100.0 if untraced else 0.0
    if pct_ < 0:
        res.notes.append(
            f"tracing overhead unresolved: the traced part was {-pct_:.1f}% faster"
        )
    return pct_


def _topic_layers(tracer: Tracer, res: Result) -> None:
    for span, key in (
        ("topics.reserve", "reserve"),
        ("topics.stamp", "stamp"),
        ("topics.publish", "publish"),
    ):
        d = tracer.durations_ms(span)
        res.layer[f"topics.{key}_ms_p50"] = median(d)
        res.layer[f"topics.{key}_ms_p99"] = pct(d, 99)


# -- bulk ----------------------------------------------------------------------


def _bulk_setup(run: Run, i: int):
    from polar_spark.produce import Producer
    from polar_spark.topics import TopicCatalog

    start_spark(run)
    cat = TopicCatalog(run.spark, os.path.join(run.work, f"bulk-{i}"))
    return cat, Producer(cat)


def _bulk_round(run: Run, cat, prod, src, r: int, counters) -> dict:
    """One round: keyed produce, keyless produce, full drain of the
    keyed topic. Returns per-step seconds (and Spark stats if traced)."""
    from polar_spark.consume import EARLIEST, ConsumerGroup

    sc = run.spark.sparkContext
    out: dict = {}
    keyed, keyless = f"keyed-{r}", f"keyless-{r}"
    cat.ensure_topic(keyed)
    cat.ensure_topic(keyless)
    group = ConsumerGroup(cat, f"drain-{r}")
    group.register(keyed, EARLIEST)
    steps = (
        ("keyed", lambda: prod.produce(src, keyed, key_col="key")),
        ("keyless", lambda: prod.produce(src, keyless)),
        ("drain", lambda: group.poll(keyed).df.count()),
    )
    for name, step in steps:
        if counters is not None:
            sc.setJobGroup(f"bulk-{r}-{name}", name)
        t0 = time.perf_counter()
        value = step()
        out[name] = time.perf_counter() - t0
        if counters is not None:
            sc.setJobGroup(None, None)
            out[f"{name}_stats"] = counters.group_stats(f"bulk-{r}-{name}")
        if name == "drain":
            out["drained"] = value
    return out


def _bulk_check(cat, r: int, n: int, res: Result) -> None:
    """Both topics of round ``r`` hold all ``n`` messages, with each
    partition's offsets contiguous from 0."""
    from pyspark.sql import functions as F

    for topic in (f"keyed-{r}", f"keyless-{r}"):
        rows = (
            cat.read(topic)
            .groupBy("partition")
            .agg(F.min("offset").alias("lo"), F.max("offset").alias("hi"),
                 F.count(F.lit(1)).alias("c"))
            .collect()
        )
        total = sum(x["c"] for x in rows)
        gaps = [x["partition"] for x in rows if x["lo"] != 0 or x["hi"] != x["c"] - 1]
        if total != n or gaps:
            res.failures.append(
                f"bulk {topic}: {total} of {n} rows, non-contiguous partitions {gaps}"
            )


def bulk(run: Run) -> Result:
    res = Result()
    src_path = os.path.join(run.work, "bulk.parquet")
    gen_proc = start_gen(run, ["bulk", "--seed", str(run.seed), "--out", src_path])
    try:
        start_spark(run)  # launches the JVM while the input is generated
    finally:
        wait_gen(gen_proc, timeout=170)
    n = gen.BULK_MESSAGES
    # timed set-ups start once the generator has finished, so they do not
    # compete with it for CPU
    times = []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        cat, prod = _bulk_setup(run, i)
        times.append(time.perf_counter() - t0)
    res.e2e["setup_s"] = median(times)
    run.phase("set-up done")
    src = run.spark.read.parquet(src_path)
    _bulk_round(run, cat, prod, src, 0, None)  # untimed, full size
    for t in ("keyed-0", "keyless-0"):
        shutil.rmtree(cat.topic_dir(t), ignore_errors=True)
    run.phase("untimed round done")
    res.named["setup_cold_s"] = (time.perf_counter() - run.t0, "s")

    # traced runs alternate untraced and traced rounds in ABBA order, so
    # the JVM's warming over the run cancels out of the tracing overhead
    order = TRACE_ORDER if run.trace else (False,)
    tracer = Tracer() if run.trace else None
    counters = SparkCounters(run.spark) if run.trace else None
    base: list[dict] = []
    traced: list[dict] = []
    busy, r = 0.0, 1
    while busy < run.seconds or (run.trace and r <= len(order)):
        on = order[(r - 1) % len(order)]
        if on:
            install(tracer)
        try:
            rnd = _bulk_round(run, cat, prod, src, r, counters if on else None)
        finally:
            if on:
                tracer.unwrap_all()
        busy += rnd["keyed"] + rnd["keyless"] + rnd["drain"]
        if rnd["drained"] != n:
            res.failures.append(f"bulk round {r}: drained {rnd['drained']} of {n}")
        rnd["r"] = r
        (traced if on else base).append(rnd)
        if r > 1:  # keep only the last round's log on disk
            for t in (f"keyed-{r - 1}", f"keyless-{r - 1}"):
                shutil.rmtree(cat.topic_dir(t), ignore_errors=True)
        r += 1
    _bulk_check(cat, r - 1, n, res)
    rounds = traced if run.trace else base
    res.attempted = 3 * (len(base) + len(traced))
    res.failed = 0
    round_ms = [1000 * (x["keyed"] + x["keyless"] + x["drain"]) for x in rounds]
    keyed_rate = [n / x["keyed"] for x in rounds]
    res.e2e.update(
        latency_ms_p50=median(round_ms),
        latency_ms_tail=max(round_ms),
        throughput_msgs_per_s=median(keyed_rate),
        retained_mb=retained_mb(run, res),
    )
    res.named.update(
        {
            "ingest_keyed_msgs_per_s": (median(keyed_rate), "msgs/s"),
            "ingest_keyless_msgs_per_s": (median([n / x["keyless"] for x in rounds]), "msgs/s"),
            "drain_msgs_per_s": (median([n / x["drain"] for x in rounds]), "msgs/s"),
            "timed_rounds": (len(rounds), "count"),
            "messages_per_step": (n, "count"),
        }
    )
    files_pp, data_bytes = topic_layout(cat, f"keyed-{r - 1}")
    res.layer.update(
        {
            "topics.files_per_partition": files_pp,
            "topics.disk_bytes_per_user_byte": data_bytes / (n * gen.MSG_BYTES),
        }
    )
    if tracer is not None:
        base_ms = [1000 * (x["keyed"] + x["keyless"] + x["drain"]) for x in base]
        for step in ("keyed", "keyless"):
            st = [x[f"{step}_stats"] for x in rounds]
            res.layer.update(
                {
                    f"produce.{step}_s": median([x[step] for x in rounds]),
                    f"produce.{step}_spark_jobs": median([s["jobs"] for s in st]),
                    f"produce.{step}_spark_stages": median([s["stages"] for s in st]),
                    f"produce.{step}_spark_tasks": median([s["tasks"] for s in st]),
                    f"produce.{step}_shuffle_write_bytes": median(
                        [s["shuffle_write_bytes"] for s in st]
                    ),
                }
            )
        res.layer.update(
            {
                "consume.drain_jobs": median([x["drain_stats"]["jobs"] for x in rounds]),
                "consume.drain_s": median([x["drain"] for x in rounds]),
                "bench.tracing_overhead_pct": _overhead(
                    res, median(base_ms), median(round_ms)
                ),
            }
        )
        _topic_layers(tracer, res)
        tracer.dump(os.path.join(run.out, f"bulk-{run.seed}-spans.jsonl"))
    return res


# -- curate --------------------------------------------------------------------


def _batch_key(i: int) -> str:
    """One partition key per batch: a batch lands as one file, so one
    trigger sees all of it. Keyless, its per-partition files publish one
    by one and a trigger firing mid-publish splits the batch in two."""
    return f"batch-{i}"


def clear_train_memos() -> None:
    """Empty the session-scoped trained-model memos so every timed call
    pays its declared training."""
    from polar_spark.queries import similarity

    for name in ("_PQ_TRAIN_MEMO", "_IVF_TRAIN_MEMO", "_IVFPQ_MEMO"):
        getattr(similarity, name).clear()


def curate_warmup(spark, sf_dir: str, cpus: int) -> None:
    """Spawn the Python worker pool, load pandas and Arrow into it through
    the two UDF shapes the curate kernels use (``pandas_udf`` and
    ``mapInPandas``), and scan the corpus tables with a shuffle, without
    calling any timed query. Otherwise whichever query runs first pays
    these one-off costs, and its time swings with them."""
    import pandas as pd
    from pyspark.sql import functions as F

    from polar_spark.sources.tables import load_table

    for t in CORPUS_TABLES:
        load_table(spark, sf_dir, t).count()
    spark.sparkContext.parallelize(range(cpus * 4), cpus).map(lambda x: x + 1).sum()

    def n_words(text):
        return text.str.count(" ") + 1

    # real types: this module's own annotations are deferred strings
    n_words.__annotations__ = {"text": pd.Series, "return": pd.Series}
    n_words = F.pandas_udf(n_words, "long")

    def passthrough(batches):
        yield from batches

    docs = load_table(spark, sf_dir, "documents").repartition(cpus)
    docs.groupBy("lang").agg(F.sum(n_words("text"))).collect()
    docs.select("doc_id").mapInPandas(passthrough, schema="doc_id long").collect()


def canonical_digest(rows, cols) -> str:
    """Order-independent content hash: columns sorted by name, rows
    sorted, floats exact."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, (list, tuple)):
            return [norm(x) for x in v]
        return v

    canon = sorted(
        json.dumps([norm(r[i]) for i in order], default=str) for r in rows
    )
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


def load_pins() -> dict:
    with open(os.path.join(HERE, "pins.json")) as f:
        return json.load(f)


CORPUS_DIR = os.path.join(HERE, "corpus")
CORPUS_TABLES = ("documents", "embeddings")


def corpus_file(table: str) -> str:
    """The committed copy of the ``sf0.1`` table ``table``."""
    return os.path.join(CORPUS_DIR, f"sf0.1-{table}.parquet")


def corpus_digest() -> str:
    h = hashlib.sha256()
    for t in CORPUS_TABLES:
        with open(corpus_file(t), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def stage_corpus(sf_dir: str) -> None:
    """Lay the corpus out as the queries read it: ``<sf_dir>/<table>.parquet``."""
    os.makedirs(sf_dir, exist_ok=True)
    for t in CORPUS_TABLES:
        shutil.copyfile(corpus_file(t), os.path.join(sf_dir, f"{t}.parquet"))


class _VectorStream:
    """The streaming half of curate: a long-running Structured Streaming
    query over ``TopicCatalog.read_stream("vectors")`` feeding
    ``StreamingSemDedupLSH``, driven in a closed loop of produced
    batches."""

    def __init__(self, run: Run, batches: list[list[str]]):
        from pyspark.sql import functions as F

        from polar_spark.produce import Producer
        from polar_spark.streaming.dedup import StreamingSemDedupLSH
        from polar_spark.topics import TopicCatalog

        self.run, self.batches = run, batches
        root = os.path.join(run.work, "stream")
        cat = TopicCatalog(run.spark, root)
        cat.ensure_topic("vectors")
        self.prod = Producer(cat)
        # the file-source stream is created over a topic that already
        # has data: the untimed warm batch
        self.prod.produce_rows("vectors", batches[0], key=_batch_key(0))
        self.produced = list(batches[0])
        vectors = cat.read_stream("vectors").select(
            F.get_json_object("value", "$.vec_id").cast("bigint").alias("vec_id"),
            F.from_json(F.get_json_object("value", "$.v"), "array<bigint>").alias("v"),
        )
        self.sink = StreamingSemDedupLSH(
            run.spark, os.path.join(root, "index"), os.path.join(root, "drops"),
            dims=gen.STREAM_DIMS,
        )
        self.query = self.sink.start(vectors, trigger_seconds=0.05)
        self.query.processAllAvailable()  # untimed warm trigger
        self.next = 1

    def batch(self, counters) -> tuple[float, dict]:
        """Produce the next batch and wait until the query has applied
        it. Returns the latency and, when traced, the trigger's Spark
        jobs, tasks and progress record."""
        tracker = self.run.spark.sparkContext.statusTracker()
        group = str(self.query.runId)  # the job group of the query's jobs
        before = set(tracker.getJobIdsForGroup(group))
        n_prog = len(self.query.recentProgress)
        b = self.batches[self.next]
        t0 = time.perf_counter()
        self.prod.produce_rows("vectors", b, key=_batch_key(self.next))
        self.query.processAllAvailable()
        dt = time.perf_counter() - t0
        self.produced.extend(b)
        self.next += 1
        info = {}
        if counters is not None:
            new = sorted(set(tracker.getJobIdsForGroup(group)) - before)
            stage_ids = []
            for jid in new:
                job = tracker.getJobInfo(jid)
                if job is not None:
                    stage_ids.extend(job.stageIds)
            info = {
                "jobs": len(new),
                "tasks": counters.stage_stats(stage_ids)["tasks"],
                "progress": [
                    p for p in self.query.recentProgress[n_prog:] if p["numInputRows"] > 0
                ],
            }
        return dt, info

    def check(self, planted: set, res: Result) -> tuple[set, set]:
        """Every dropped id is a planted duplicate; kept and dropped
        partition the produced ids. Returns (kept, dropped)."""
        self.query.stop()
        kept = {r["vec_id"] for r in self.sink.kept().select("vec_id").collect()}
        dropped = {r["vec_id"] for r in self.sink.dropped().select("vec_id").collect()}
        ids = {json.loads(v)["vec_id"] for v in self.produced}
        if dropped - planted:
            res.failures.append(
                f"curate stream: {len(dropped - planted)} dropped ids were not planted"
            )
        if kept & dropped or (kept | dropped) != ids:
            res.failures.append(
                f"curate stream: kept {len(kept)} + dropped {len(dropped)} "
                f"!= produced {len(ids)}"
            )
        res.layer["streaming.drop_recall"] = len(dropped & planted) / max(
            1, len(planted & ids)
        )
        return kept, dropped


def _run_query(run: Run, name: str, sf_dir: str, pins: dict, tracer,
               res: Result) -> float:
    """One curate query, timed, with its output checked against its pin.
    Before it, the memos of trained models and any cached data are
    dropped, so the timed call pays its declared training."""
    from polar_spark.queries import QUERIES

    spark = run.spark
    sc = spark.sparkContext
    clear_train_memos()
    spark.catalog.clearCache()
    fn = QUERIES[name].fn
    if tracer is not None:
        sc.setJobGroup(f"curate-{name}", name)
    t0 = time.perf_counter()
    with tracer.span(f"queries.{name}") if tracer else contextlib.nullcontext():
        df = fn(spark, sf_dir)
        rows = df.collect()
    wall = time.perf_counter() - t0
    if tracer is not None:
        sc.setJobGroup(None, None)
        res.layer[f"queries.{name}_s"] = wall
        stats = SparkCounters(spark).group_stats(f"curate-{name}")
        res.layer[f"queries.{name}_jobs"] = stats["jobs"]
        res.layer[f"queries.{name}_shuffle_bytes"] = stats["shuffle_write_bytes"]
    pin = pins["queries"][name]
    if len(rows) != pin["rows"]:
        res.failures.append(f"curate {name}: {len(rows)} rows, pinned {pin['rows']}")
    elif pin["sha256"] and canonical_digest(rows, df.columns) != pin["sha256"]:
        res.failures.append(f"curate {name}: content hash differs from the oracle pin")
    return wall


def curate(run: Run) -> Result:
    from polar_spark.sources.tables import load_table

    res = Result()
    sf_dir = os.path.join(run.work, "curate")
    stream_path = os.path.join(run.work, "stream.json")
    run_gen(run, ["curate", "--seed", str(run.seed), "--out", stream_path], timeout=170)
    pins = load_pins()
    if corpus_digest() != pins["corpus_sha256"]:
        res.failures.append("curate: the committed corpus differs from the pinned one")
    stage_corpus(sf_dir)
    setups = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        spark = start_spark(run)
        for t in CORPUS_TABLES:
            load_table(spark, sf_dir, t)
        setups.append(time.perf_counter() - t0)
    with open(stream_path) as f:
        gdata = json.load(f)
    curate_warmup(spark, sf_dir, run.cpus)
    run.phase("set-up and warm-up done")
    res.named["setup_cold_s"] = (time.perf_counter() - run.t0, "s")

    tracer = Tracer() if run.trace else None
    counters = SparkCounters(run.spark) if run.trace else None

    @contextlib.contextmanager
    def traced(on: bool):
        if on:
            install(tracer)
        try:
            yield
        finally:
            if on:
                tracer.unwrap_all()

    walls, base = {}, {}
    for i, name in enumerate(CURATE_QUERIES):
        # traced runs call each query untraced and traced, alternating
        # which goes first, so warming cancels out of the overhead
        order = (False, True) if i % 2 == 0 else (True, False)
        for on in order if run.trace else (False,):
            with traced(on):
                wall = _run_query(run, name, sf_dir, pins, tracer if on else None, res)
            (walls if on or not run.trace else base)[name] = wall
    # the stream starts after the queries: its idle triggers, every 50 ms,
    # would otherwise run beside them
    vs = _VectorStream(run, gdata["batches"])
    batches = []  # (traced, latency, trigger info) in run order
    for on in ((run.seed % 2 == 1, run.seed % 2 == 0) if run.trace else (False,)):
        with traced(on):
            batch_s, trig = vs.batch(counters if on else None)
        batches.append((on, batch_s, trig))
    run.phase("timed round done")
    kept, _dropped = vs.check(set(gdata["planted"]), res)
    res.attempted = (len(CURATE_QUERIES) + 1) * (2 if run.trace else 1)
    curate_s = sum(walls.values())
    batch_s = next(b for on, b, _ in batches if on == run.trace)
    res.e2e.update(
        setup_s=median(setups),
        latency_ms_p50=1000 * curate_s,
        latency_ms_tail=1000 * max(walls.values()),
        throughput_msgs_per_s=gen.STREAM_BATCH / batch_s,
        retained_mb=retained_mb(run, res),
    )
    res.named["curate_s"] = (curate_s, "s")
    for name, w in walls.items():
        res.named[f"{name}_s"] = (w, "s")
    res.named["dedup_latency_s"] = (batch_s, "s")
    if tracer is not None:
        trig = next(t for on, _, t in batches if on)
        base_batch = next(b for on, b, _ in batches if not on)
        dur = [p["durationMs"] for p in trig["progress"]]
        res.layer.update(
            {
                "streaming.trigger_ms_p50": median([d.get("triggerExecution", 0) for d in dur]),
                "streaming.addBatch_ms_p50": median([d.get("addBatch", 0) for d in dur]),
                "streaming.latestOffset_ms_p50": median([d.get("latestOffset", 0) for d in dur]),
                "streaming.walCommit_ms_p50": median([d.get("walCommit", 0) for d in dur]),
                "streaming.apply_batch_ms_p50": median(
                    tracer.durations_ms("streaming.apply_batch")
                ),
                "streaming.jobs_per_trigger": trig["jobs"] / max(1, len(dur)),
                "streaming.tasks_per_trigger": trig["tasks"] / max(1, len(dur)),
                # the later timed batch over the earlier one
                "streaming.trigger_age_ratio": batches[1][1] / batches[0][1],
                "streaming.store_bytes_per_kept_vector": dir_bytes(vs.sink.index_path)
                / max(1, len(kept)),
                "produce.rows_self_ms_p50": median(tracer.self_ms("produce.produce_rows")),
                "bench.tracing_overhead_pct": _overhead(
                    res, sum(base.values()) + base_batch, curate_s + batch_s
                ),
            }
        )
        _topic_layers(tracer, res)
        tracer.dump(os.path.join(run.out, f"curate-{run.seed}-spans.jsonl"))
    return res


WORKLOADS = {"serve": serve, "bulk": bulk, "curate": curate}
