"""Benchmark of arion_spark: one seeded workload per invocation.

Run from the repository root::

    python3 perfbench/run.py --workload stream_chain --seed 1 --seconds 15 --trace 0

Workloads: ``stream_chain`` and ``stream_live`` (see
``perfbench/README.md`` and ``workloads.py``).  ``--trace 0`` prints the
end-to-end metrics, ``--trace 1`` the per-layer metrics, a self-time
table and the tracing overhead (stderr) and writes the spans to
``.perfbench/``.  Metric names and units come from ``BENCHMARK.json``.
The last line of stdout is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``; the exit code is 0 only when every output row
matched the reference and the run was valid.

Everything the run writes stays under ``<repo>/.perfbench/``: the input
cache, the Spark local and temp dirs, checkpoints and sink tables (the
last three are removed at exit).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _metrics(key: str) -> dict[str, str]:
    """{name: unit} of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json at the repository root declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


#: a run still going after this long is stopped and fails
DEADLINE_S = 170

#: the reference job's time (``probe.Calibrator``) that defines the
#: reference host speed; end-to-end times are reported as they would
#: read at it
CALIB_REF_S = 1.4


def _args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("stream_chain", "stream_live"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _deadline(signum, frame):
    raise TimeoutError(f"benchmark run exceeded {DEADLINE_S} s")


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait until the JVM
    and every process under it (Python workers) have ended."""
    from pyspark import SparkContext

    from perfbench.probe import descendants

    gateway = SparkContext._gateway
    spark.stop()
    pids = set(descendants(os.getpid()))
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at EOF on stdin
            proc.wait(timeout=60)
    end = time.time() + 30
    while pids and time.time() < end:
        pids = {p for p in pids if _alive(p)}
        time.sleep(0.1)
    for pid in pids:
        os.kill(pid, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def main(argv: list[str] | None = None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "arion_spark", "__init__.py")):
        print(f"perfbench: no arion_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{os.getpid()}")
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Spark's Python workers import arion_spark whatever the working dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("PYTHONWARNINGS", "ignore::FutureWarning")

    from perfbench import workloads
    from perfbench.probe import ProcSampler, Tracer, nproc

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    sampler = ProcSampler().start()
    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        from arion_spark import get_spark

        # one core is left to this process, the JVM's GC and JIT threads
        # and the sampler: at local[nproc] on a shared 4-vCPU host the
        # spread of turns_per_s over seeds was 0.2, at nproc - 1 0.06
        slots = max(1, nproc() - 1)
        t0 = time.perf_counter()
        with tracer.span("get_spark", "session"):
            spark = get_spark("perfbench", cpus=slots, extra_conf={
                "spark.local.dir": os.path.join(work, "local"),
                # C1 only: with C2 the first ~5 passes of stream_chain ran
                # 9.3 -> 5.9 s as it compiled, so a timed pass after a short
                # warm-up measured how far the JIT had got; C1 is at its
                # steady speed after the warm-up.  A fixed-size heap keeps
                # heap growth out of the GC timings.
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={work}/tmp -Xms2g -XX:TieredStopAtLevel=1",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.memory": "2g",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.streaming.numRecentProgressUpdates": "1000",
            })
        ctx = workloads.Ctx(spark, work, os.path.join(base, "cache"), args.seed,
                            args.seconds, tracer, sampler)
        ctx.layer["session.start_s"] = time.perf_counter() - t0
        e2e = workloads.WORKLOADS[args.workload](ctx, bool(args.trace))
        if ctx.calibrator is None:
            ctx.calibrate()
        ctx.layer["host.calib_s"] = ctx.calib_s
    finally:
        if spark is not None:
            _stop_spark(spark)
        signal.alarm(0)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)

    v = ctx.verdict
    print(f"perfbench: session start {ctx.layer['session.start_s']:.2f} s, "
          f"warm-up {ctx.layer['session.warmup_s']:.2f} s", file=sys.stderr)
    for msg in ctx.invalid:
        print(f"perfbench: invalid run: {msg}", file=sys.stderr)
    if v.bad:
        print(f"perfbench: output check failed: {v}", file=sys.stderr)
    if args.trace:
        spans = tracer.finish()
        os.makedirs(base, exist_ok=True)
        with open(os.path.join(base, f"spans-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(spans, f)
        print(Tracer.table(spans), file=sys.stderr)
        print(f"tracing overhead: {ctx.layer['trace.overhead_pct']:.1f}%", file=sys.stderr)
        ctx.layer["check.fail_frac"] = v.fail_frac
        units = _metrics("per_layer")
        values = {k: ctx.layer[k] for k in units}
    else:
        raw = dict(e2e, peak_rss_mb=sampler.peak_rss_mb)
        print(f"perfbench: reference job runs {[round(t, 3) for t in ctx.calibrator.times]}",
              file=sys.stderr)
        print(f"perfbench: as timed on this host (reference job {ctx.layer['host.calib_s']:.3f} s): "
              f"{json.dumps(raw)}", file=sys.stderr)
        values = workloads.at_reference_speed(
            args.workload, raw, CALIB_REF_S / ctx.layer["host.calib_s"])
        units = _metrics("end_to_end")
    correct = v.expected > 0 and v.bad == 0 and not ctx.invalid
    print(json.dumps({
        "correct": correct,
        "attempted": v.expected,
        "failed": v.bad,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
