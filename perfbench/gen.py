"""Seeded load and input generator for the polar-spark benchmark.

Everything the engine receives comes from here, derived from ``--seed``
alone: the same seed yields byte-identical message bodies, keys and
vectors. The engine process never generates its own inputs.

Run as its own process (``python3 perfbench/gen.py <mode> ...``):

- ``serve``: open-loop HTTP load against a running ``PolarRestServer``.
  Two producer connections send keyed NDJSON produce requests on a
  seeded open-loop schedule; one consumer connection runs a closed poll
  loop and, once a second, a ``GET /status`` probe. Optionally a closed
  loop follows on the two producer connections, each sending its next
  request as soon as the previous one is answered, to measure the
  server's produce capacity. At most three connections and three threads.
  Writes per-request, per-poll and per-message records as JSON.
- ``bulk``: writes the bulk workload's messages as one parquet file.
- ``curate``: writes the seeded vector batches of curate's streaming
  dedup as JSON. The curate queries read a fixed corpus committed beside
  this file, not generated input.
"""

from __future__ import annotations

import argparse
import bisect
import hashlib
import http.client
import json
import random
import sys
import threading
import time
import uuid

N_KEYS = 10_000
ZIPF_S = 1.2
MSG_BYTES = 1024
CT_WIDTH = 16  # fixed-width creation stamp, so bodies hash before stamping
CT_BLANK = "0" * CT_WIDTH

_WORDS = (
    "alpha bravo cargo delta ember fjord gamma harbor index jolt kernel "
    "lumen matrix nectar orbit pixel quartz relay signal tensor umbra "
    "vector wander xenon yield zephyr anchor beacon cipher dynamo "
    "engine falcon glacier horizon island jasper kettle lantern meadow "
    "nimbus oasis prism quiver raven summit tundra unity valley willow"
).split()
_WORD_OF_BYTE = [_WORDS[b % len(_WORDS)] for b in range(256)]
_STATUS = ["new", "active", "paused", "closed", "archived"]
_REGION = ["eu-west", "us-east", "us-west", "ap-south", "sa-east"]
_TIER = ["free", "pro", "team", "enterprise"]


class Zipf:
    """Sample key ranks 0..n-1 with P(k) proportional to 1/(k+1)^s."""

    def __init__(self, n: int = N_KEYS, s: float = ZIPF_S):
        acc, cdf = 0.0, []
        for k in range(1, n + 1):
            acc += 1.0 / k**s
            cdf.append(acc)
        self._cdf = [c / acc for c in cdf]

    def sample(self, rng: random.Random) -> int:
        return min(bisect.bisect_left(self._cdf, rng.random()), len(self._cdf) - 1)


def key_name(rank: int) -> str:
    return f"k{rank:05d}"


def body_template(rng: random.Random, msg_id: int, key: str, seq: int) -> str:
    """One ~1 KiB JSON message in the reference tool's mix: random text,
    dictionary values, numbers and a UUID. ``ct`` is a blank fixed-width
    creation stamp that :func:`stamp` fills at send time."""
    head = {
        "id": msg_id,
        "key": key,
        "seq": seq,
        "ct": CT_BLANK,
        "uuid": str(uuid.UUID(int=rng.getrandbits(128), version=4)),
        "status": rng.choice(_STATUS),
        "region": rng.choice(_REGION),
        "tier": rng.choice(_TIER),
        "amount": round(rng.uniform(0, 10_000), 2),
        "count": rng.randrange(1_000_000),
    }
    s = json.dumps(head, separators=(",", ":"))
    room = MSG_BYTES - len(s) - len(',"text":"') - 1
    text = " ".join(map(_WORD_OF_BYTE.__getitem__, rng.randbytes(room // 4)))[:room]
    return s[:-1] + ',"text":"' + text + '"}'


def stamp(body: str, ct_us: int) -> str:
    return body.replace(f'"ct":"{CT_BLANK}"', f'"ct":"{ct_us:0{CT_WIDTH}d}"', 1)


def now_us() -> int:
    return time.perf_counter_ns() // 1000


# -- serve -----------------------------------------------------------------

SERVE_TOPIC = "serve"
SERVE_RATE = 20.0  # produce requests per second, open loop
SERVE_EMPTY_POLL_PAUSE = 0.005  # consumer think time after an empty poll
SERVE_MSGS_PER_REQ = 16
SERVE_PRODUCERS = 2


def serve_schedule(seed: int, seconds: float) -> list[float]:
    """Due times, in seconds from the schedule origin: a Poisson arrival
    process at ``SERVE_RATE`` conditioned on its count, i.e. that many
    uniform arrivals, sorted. Independent clients, so the consumer's poll
    cycle has no fixed period to lock onto, and every run offers the same
    number of requests."""
    rng = random.Random(f"serve-arrivals-{seed}")
    return sorted(rng.uniform(0, seconds) for _ in range(int(seconds * SERVE_RATE)))


def serve_requests(seed: int, n_requests: int) -> list[tuple[str, list[str]]]:
    """The serve workload's produce requests in schedule order: (key,
    unstamped NDJSON message bodies). Pure function of the seed."""
    rng = random.Random(seed)
    zipf = Zipf()
    seqs: dict[str, int] = {}
    out = []
    for j in range(n_requests):
        key = key_name(zipf.sample(rng))
        bodies = []
        for i in range(SERVE_MSGS_PER_REQ):
            seq = seqs.get(key, 0)
            seqs[key] = seq + 1
            bodies.append(body_template(rng, j * SERVE_MSGS_PER_REQ + i, key, seq))
        out.append((key, bodies))
    return out


def _serve(args) -> int:
    seconds = args.seconds
    dues = serve_schedule(args.seed, seconds)
    n_req = len(dues)
    reqs = serve_requests(args.seed, n_req)
    next_req = iter(range(n_req))
    next_lock = threading.Lock()
    host, port = args.host, args.port
    start = time.perf_counter() + 0.2  # shared schedule origin
    records: list[list] = [None] * n_req  # type: ignore[list-item]
    stop_polling = threading.Event()
    polls: list[list] = []
    status_rtts: list[float] = []
    received: list[list] = []  # [msg_id, recv_us, ct_us]
    errors: list[str] = []

    def producer() -> None:
        # the producer connections form a pool: each takes the next
        # request in schedule order as soon as it is free
        conn = http.client.HTTPConnection(host, port, timeout=30)
        try:
            while True:
                with next_lock:
                    j = next(next_req, None)
                if j is None:
                    break
                due = start + dues[j]
                wait = due - time.perf_counter()
                if wait > 0:
                    time.sleep(wait)
                key, bodies = reqs[j]
                sent = time.perf_counter()
                ct = now_us()
                payload = "\n".join(stamp(b, ct) for b in bodies).encode()
                try:
                    conn.request(
                        "POST",
                        f"/v1/topic/{args.topic}/messages?partitionKey={key}",
                        body=payload,
                        headers={"Content-Type": "application/x-ndjson"},
                    )
                    resp = conn.getresponse()
                    resp.read()
                    status = resp.status
                except (OSError, http.client.HTTPException) as e:
                    errors.append(f"produce {j}: {e!r}")
                    status = 0
                    conn.close()
                    conn = http.client.HTTPConnection(host, port, timeout=30)
                done = time.perf_counter()
                records[j] = [j, key, due - start, sent - start, done - start, status]
        finally:
            conn.close()

    def consumer() -> None:
        conn = http.client.HTTPConnection(host, port, timeout=30)
        cid = f"bench-{args.topic}"
        try:
            conn.request(
                "PUT",
                f"/v1/consumer/register?consumerId={cid}&group={cid}"
                f"&topic={args.topic}&onNewGroup=startFromEarliest",
            )
            r = conn.getresponse()
            r.read()
            if r.status != 200:
                errors.append(f"register: HTTP {r.status}")
                return
            next_probe = time.perf_counter()
            while not stop_polling.is_set():
                now = time.perf_counter()
                if now >= next_probe:
                    conn.request("GET", "/status")
                    r = conn.getresponse()
                    r.read()
                    status_rtts.append((time.perf_counter() - now) * 1000)
                    next_probe = now + 1.0
                t0 = time.perf_counter()
                conn.request("POST", f"/v1/consumer/poll?consumerId={cid}")
                r = conn.getresponse()
                data = r.read()
                t1 = time.perf_counter()
                recv = now_us()
                n = 0
                if r.status == 200:
                    for item in json.loads(data):
                        for v in item["values"]:
                            received.append([v["id"], recv, int(v["ct"])])
                            n += 1
                elif r.status != 204:
                    errors.append(f"poll: HTTP {r.status}")
                    return
                polls.append([t0 - start, t1 - start, n])
                if n == 0:
                    time.sleep(SERVE_EMPTY_POLL_PAUSE)
            conn.request("POST", f"/v1/consumer/goodbye?consumerId={cid}")
            conn.getresponse().read()
        except (OSError, http.client.HTTPException, ValueError, KeyError) as e:
            errors.append(f"consumer: {e!r}")
        finally:
            conn.close()

    threads = [threading.Thread(target=producer) for _ in range(SERVE_PRODUCERS)]
    cons = threading.Thread(target=consumer)
    cons.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    load_end = time.perf_counter() - start
    # drain: keep polling until every acked message arrived (bounded)
    acked = sum(
        SERVE_MSGS_PER_REQ for r in records if r is not None and r[5] == 200
    )
    deadline = time.perf_counter() + 20
    while time.perf_counter() < deadline and cons.is_alive():
        if len({m[0] for m in received}) >= acked:
            break
        time.sleep(0.05)
    stop_polling.set()
    cons.join(30)
    sat = _serve_saturate(args, errors) if args.sat_seconds > 0 else None
    out = {
        "seconds": seconds,
        "rate": SERVE_RATE,
        "msgs_per_req": SERVE_MSGS_PER_REQ,
        "load_end": load_end,
        "requests": [r for r in records if r is not None],
        "unsent": sum(1 for r in records if r is None),
        "polls": polls,
        "status_rtt_ms": status_rtts,
        "received": received,
        "errors": errors + (["consumer did not stop"] if cons.is_alive() else []),
        "sat": sat,
    }
    with open(args.out, "w") as f:
        json.dump(out, f)
    return 0


SAT_ID_BASE = 10_000_000  # message ids of the closed loop, past the open loop's


def _serve_saturate(args, errors: list[str]) -> dict:
    """Closed loop on the producer connections: each sends its next keyed
    request, to ``<topic>-sat``, as soon as the previous one is answered,
    for ``--sat-seconds``. Nothing polls meanwhile. Records per request
    [key, status, sent, done], in seconds from the loop's start."""
    topic = f"{args.topic}-sat"
    start = time.perf_counter()
    deadline = start + args.sat_seconds
    records: list[list] = []
    lock = threading.Lock()

    def producer(c: int) -> None:
        rng = random.Random(f"serve-sat-{args.seed}-{c}")
        zipf = Zipf()
        conn = http.client.HTTPConnection(args.host, args.port, timeout=30)
        j = 0
        try:
            while time.perf_counter() < deadline:
                key = key_name(zipf.sample(rng))
                base = SAT_ID_BASE + (c * 1_000_000 + j) * SERVE_MSGS_PER_REQ
                payload = "\n".join(
                    body_template(rng, base + i, key, 0)
                    for i in range(SERVE_MSGS_PER_REQ)
                ).encode()
                sent = time.perf_counter()
                try:
                    conn.request(
                        "POST",
                        f"/v1/topic/{topic}/messages?partitionKey={key}",
                        body=payload,
                        headers={"Content-Type": "application/x-ndjson"},
                    )
                    resp = conn.getresponse()
                    resp.read()
                    status = resp.status
                except (OSError, http.client.HTTPException) as e:
                    errors.append(f"saturate {c}/{j}: {e!r}")
                    status = 0
                    conn.close()
                    conn = http.client.HTTPConnection(args.host, args.port, timeout=30)
                done = time.perf_counter()
                with lock:
                    records.append([key, status, sent - start, done - start])
                j += 1
        finally:
            conn.close()

    threads = [
        threading.Thread(target=producer, args=(c,)) for c in range(SERVE_PRODUCERS)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return {"topic": topic, "requests": records}


# -- bulk ------------------------------------------------------------------

BULK_MESSAGES = 100_000


def bulk_rows(seed: int, n: int = BULK_MESSAGES):
    rng = random.Random(seed)
    zipf = Zipf()
    seqs: dict[str, int] = {}
    keys, values = [], []
    for i in range(n):
        key = key_name(zipf.sample(rng))
        seq = seqs.get(key, 0)
        seqs[key] = seq + 1
        keys.append(key)
        values.append(body_template(rng, i, key, seq))
    return keys, values


def _bulk(args) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    keys, values = bulk_rows(args.seed)
    pq.write_table(
        pa.table({"key": pa.array(keys), "value": pa.array(values)}),
        args.out,
        row_group_size=max(1, len(keys) // 8),
    )
    return 0


# -- curate: streaming dedup input ------------------------------------------

STREAM_DIMS = 64
STREAM_BATCH = 2000
STREAM_WARM_BATCH = 2000  # the untimed first batch
STREAM_BATCHES = 3  # warm-up, untraced and traced
STREAM_DUP_SHARE = 0.2


def stream_batches(seed: int, n_batches: int):
    """Batches of JSON vector messages ``{vec_id, v}``: a small untimed
    first batch, then full ones. A fifth of each batch are planted
    near-duplicates: an earlier original with one coordinate moved by one
    quantization step. Returns (batches, planted ids)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    originals: list[list[int]] = []
    planted: list[int] = []
    batches = []
    vid = 0
    for b in range(n_batches):
        size = STREAM_WARM_BATCH if b == 0 else STREAM_BATCH
        n_dup = int(size * STREAM_DUP_SHARE)
        dup_slots = set(rng.choice(size, size=n_dup, replace=False).tolist())
        vals = []
        for i in range(size):
            if i in dup_slots and originals:
                v = list(originals[int(rng.integers(len(originals)))])
                d = int(rng.integers(STREAM_DIMS))
                v[d] += 1 if v[d] < 0 else -1
                planted.append(vid)
            else:
                x = rng.standard_normal(STREAM_DIMS)
                x /= np.linalg.norm(x)
                v = np.floor(x * 10_000).astype(np.int64).tolist()
                originals.append(v)
            vals.append(json.dumps({"vec_id": vid, "v": v}, separators=(",", ":")))
            vid += 1
        batches.append(vals)
    return batches, planted


def _curate(args) -> int:
    batches, planted = stream_batches(args.seed, STREAM_BATCHES)
    with open(args.out, "w") as f:
        json.dump({"batches": batches, "planted": planted}, f)
    return 0


def input_digest(seed: int, n_requests: int = 200) -> str:
    """sha256 over every generated body and key of the serve, bulk and
    stream inputs for ``seed`` (bulk and stream at reduced size)."""
    h = hashlib.sha256()
    h.update(json.dumps(serve_schedule(seed, 10.0)).encode())
    for key, bodies in serve_requests(seed, n_requests):
        h.update(key.encode())
        for b in bodies:
            h.update(b.encode())
    keys, values = bulk_rows(seed, 2000)
    for k, v in zip(keys, values):
        h.update(k.encode())
        h.update(v.encode())
    batches, planted = stream_batches(seed, 2)
    for b in batches:
        for v in b:
            h.update(v.encode())
    h.update(json.dumps(planted).encode())
    return h.hexdigest()


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    s = sub.add_parser("serve")
    s.add_argument("--host", default="127.0.0.1")
    s.add_argument("--port", type=int, required=True)
    s.add_argument("--seconds", type=float, required=True)
    s.add_argument("--topic", default=SERVE_TOPIC)
    s.add_argument("--sat-seconds", type=float, default=0.0)
    b = sub.add_parser("bulk")
    c = sub.add_parser("curate")
    for p in (s, b, c):
        p.add_argument("--seed", type=int, required=True)
        p.add_argument("--out", required=True)
    d = sub.add_parser("digest")
    d.add_argument("--seed", type=int, required=True)
    args = ap.parse_args(argv)
    if args.mode == "digest":
        print(input_digest(args.seed))
        return 0
    return {"serve": _serve, "bulk": _bulk, "curate": _curate}[args.mode](args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
