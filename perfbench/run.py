"""polar-spark benchmark: one command, three workloads.

    python3 perfbench/run.py --workload {serve,bulk,curate} \
        --seed N --seconds S --trace {0,1}

Runs from the root of a source checkout. The engine (Spark driver,
``PolarEngine``, ``PolarRestServer``) runs in this process; load and
inputs come from the seeded generator process (``perfbench/gen.py``).

``--trace 0`` measures untraced and reports the end-to-end metrics named
in ``BENCHMARK.json``. ``--trace 1`` measures an untraced part, then a
traced part whose spans give the per-layer metrics; the difference
between the parts is reported as the tracing overhead.

Each workload prints its figures by name and unit, one per line, then
as its last line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. A failed correctness check prints ``"correct": false`` and
exits 1. Scratch data lives under ``.perfbench/`` in the checkout and is
removed at the end; traced runs leave their spans there.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # process start, for the cold set-up time

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _fail(msg: str, code: int = 2) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def _metrics_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _shutdown_jvm() -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort at exit
            proc.kill()
            proc.wait()


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="polar-spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine is built from the checkout's own source
    if not os.path.isfile(os.path.join(ROOT, "polar_spark", "__init__.py")):
        return _fail("no polar_spark package in this checkout")
    sys.path.insert(0, ROOT)
    for mod in ("pyspark", "pyarrow"):
        if importlib.util.find_spec(mod) is None:
            return _fail(f"cannot import {mod}")
    try:
        spec = _metrics_spec()
    except (OSError, ValueError) as e:
        return _fail(f"cannot read BENCHMARK.json: {e}")

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # keep every file Spark, the JVM and Python write inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("POLAR_SPARK_DRIVER_MEM", "2g")
    cpus = min(4, os.cpu_count() or 4)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    os.chdir(work)
    # flush dirty pages left by earlier processes, so their writeback
    # does not land inside this run's timed window
    os.sync()

    import workloads as wl

    if args.workload not in wl.WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; one of {sorted(wl.WORKLOADS)}")
    run = wl.Run(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        work=work,
        out=out_dir,
        cpus=int(os.environ["SPARK_GRAFT_CPUS"]),
        t0=T_START,
    )
    try:
        res = wl.WORKLOADS[args.workload](run)
        run.phase("workload done")
    except Exception:  # noqa: BLE001 - report and exit non-zero
        traceback.print_exc()
        return _fail(f"{args.workload} run failed", 1)
    finally:
        try:
            _shutdown_jvm()
        finally:
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)
            run.phase("shut down")

    kind = "per_layer" if args.trace else "end_to_end"
    values = res.layer if args.trace else res.e2e
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec[kind]
    }
    print(f"# workload {args.workload}  seed {args.seed}  trace {args.trace}")
    for name, (value, unit) in res.named.items():
        print(f"{name} = {value:.6g} {unit}")
    failed_ratio = res.failed / max(1, res.attempted)
    print(f"failed_ratio = {failed_ratio:.6g} ratio ({res.failed}/{res.attempted})")
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    for note in res.notes:
        print(f"note: {note}")
    for f in res.failures:
        print(f"CHECK FAILED: {f}")
    print(
        json.dumps(
            {
                "correct": not res.failures,
                "attempted": max(1, int(res.attempted)),
                "failed": int(res.failed),
                "metrics": metrics,
            }
        )
    )
    return 1 if res.failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
