"""The generator is a pure function of its seed."""

import os
import subprocess
import sys

import gen

GEN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "gen.py")


def _digest_in_process(seed: int, hashseed: str) -> str:
    env = dict(os.environ, PYTHONHASHSEED=hashseed)
    out = subprocess.run(
        [sys.executable, GEN, "digest", "--seed", str(seed)],
        check=True, capture_output=True, text=True, env=env, timeout=120,
    )
    return out.stdout.strip()


def test_same_seed_same_input_stream_across_processes():
    # separate interpreters with different hash seeds: nothing in the
    # generated bodies, keys or vectors may depend on process state
    a = _digest_in_process(7, "1")
    b = _digest_in_process(7, "2")
    assert a == b
    assert a == gen.input_digest(7)


def test_different_seeds_differ():
    assert gen.input_digest(7) != gen.input_digest(8)


def test_stamping_leaves_template_bytes_alone():
    key, bodies = gen.serve_requests(3, 1)[0]
    stamped = gen.stamp(bodies[0], 123)
    assert stamped.replace('"ct":"0000000000000123"', f'"ct":"{gen.CT_BLANK}"') == bodies[0]
    assert len(bodies) == gen.SERVE_MSGS_PER_REQ and key.startswith("k")


def test_serve_load_uses_at_most_three_connections():
    # two producer connections plus one consumer connection that also
    # carries the /status probe
    assert gen.SERVE_PRODUCERS + 1 <= 3


def test_stream_planted_duplicates_are_near_copies():
    import json

    batches, planted = gen.stream_batches(5, 2)
    vecs = {}
    for b in batches:
        for v in b:
            m = json.loads(v)
            vecs[m["vec_id"]] = m["v"]
    expect = int(gen.STREAM_WARM_BATCH * gen.STREAM_DUP_SHARE) + int(
        gen.STREAM_BATCH * gen.STREAM_DUP_SHARE
    )
    # a duplicate slot before the first original becomes an original
    assert expect - 5 <= len(planted) <= expect
    plant = set(planted)
    for p in planted[:50]:
        v = vecs[p]
        # one coordinate moved by one quantization step from an earlier original
        assert any(
            sum(abs(a - b) for a, b in zip(v, vecs[i])) == 1
            for i in range(p)
            if i not in plant
        )
