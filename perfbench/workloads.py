"""The two workloads.  Each takes a :class:`Ctx` and returns its
end-to-end metrics (untraced) or fills ``ctx.layer`` (traced).

* ``stream_chain`` - closed loop: the whole replay is present when a
  pass starts and ``run_stream_pipeline`` drains it in three 20k-turn
  micro-batches with minimal sink stats (the throughput settings of
  ``bench.py``), so per-row work in the stateful fold weighs most.
* ``stream_live`` - open loop: one file of turns lands every
  ``LIVE_INTERVAL_MS`` at ``LIVE_RATE`` turns/s, on a schedule that does
  not depend on Spark; the pipeline runs with full lineage stats, so
  micro-batches are small and per-batch fixed costs dominate.

The batch chain (``plans.compiler.run_pipeline``) is measured by the
traced run of both workloads, by prefix differencing over the same
input files.

A turn's latency runs from the moment it was available to the engine
(its scheduled creation time on ``stream_live``, the start of the pass
on ``stream_chain``) to the commit of the micro-batch that holds it.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

from perfbench import check, gen
from perfbench.probe import Calibrator, ProcSampler, Tracer, nproc, pct, progress_summary

#: three micro-batches of 20k turns per pass: with two, the median turn
#: sat 20 turns from the boundary between the first and second commit,
#: so latency_p50_ms could jump by a whole batch
CHAIN_TURNS = 60_000
CHAIN_FILES = 3
CHAIN_FILES_PER_BATCH = 1
CHAIN_WATERMARK, CHAIN_WATERMARK_MS = "2 minutes", 120_000
#: a pass's wall time at the reference host speed: a run makes as many
#: passes as fill its length at that speed (a fixed count: the second
#: pass of a session ran ~6% faster than the first)
CHAIN_PASS_S = 12
#: reads of each timed pass's sink (merged_read_s is their median)
CHAIN_READS = 3

#: stream_live offered load: LIVE_RATE turns/s, one file per interval
LIVE_RATE = 500
LIVE_INTERVAL_MS = 500
LIVE_OPEN_CONVS = 4000
#: files landed and drained one by one before the schedule starts: the
#: first batch of a session pays ~15 s of one-time costs
LIVE_WARM_FILES = 1
#: a trigger takes every landed file, so the backlog stays bounded as
#: long as a trigger's time does not grow with the files it takes
LIVE_FILES_PER_TRIGGER = 1000
#: a read of the live sink is short (~0.6 s), so it is repeated more
LIVE_READS = 6


@dataclass
class Ctx:
    spark: object
    work: str
    cache: str
    seed: int
    seconds: int
    tracer: Tracer
    sampler: ProcSampler
    verdict: check.Verdict = field(default_factory=lambda: check.Verdict(0))
    layer: dict = field(default_factory=dict)
    invalid: list = field(default_factory=list)
    calibrator: Calibrator | None = None

    def dir(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def calibrate(self) -> None:
        """Time the reference job once; it is built on the first call,
        which must come after the set-up (it would warm the session)."""
        if self.calibrator is None:
            self.calibrator = Calibrator(self.spark, nproc() - 1 or 1, self.dir("calib"))
        with self.tracer.span("reference job", "benchmark"):
            self.calibrator.run()

    @property
    def calib_s(self) -> float:
        """host.calib_s: the reference job's median time in this run."""
        return statistics.median(self.calibrator.times)


# -- inputs -------------------------------------------------------------------


def _parquet_paths(d: str) -> list[str]:
    return sorted(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))


def _cached(ctx: Ctx, name: str, make) -> tuple[gen.Inputs, list[str]]:
    """Generate ``name`` once per seed into the cache (outside any timed
    region) and return the inputs with their parquet paths."""
    import pyarrow.parquet as pq

    d = os.path.join(ctx.cache, f"{name}-s{ctx.seed}-v{gen.VERSION}")
    late_txt = os.path.join(d, "_late.txt")
    if not os.path.exists(late_txt):
        inputs = make()
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write_files(inputs, tmp)
        with open(os.path.join(tmp, "_late.txt"), "w") as f:
            f.writelines(f"{c}\t{i}\n" for c, i in sorted(inputs.late))
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
        return inputs, _parquet_paths(d)
    paths = _parquet_paths(d)
    files = []
    for p in paths:
        rows = pq.read_table(p).to_pylist()
        for r in rows:
            r["ts"] = round(r["ts"].timestamp() * 1000)
        files.append(rows)
    with open(late_txt) as f:
        late = {(c, int(i)) for c, i in (line.split("\t") for line in f)}
    return gen.Inputs(files, late), paths


def _stage(paths: list[str], dst: str) -> list[str]:
    os.makedirs(dst, exist_ok=True)
    out = []
    for p in paths:
        out.append(os.path.join(dst, os.path.basename(p)))
        shutil.copyfile(p, out[-1])
    return out


# -- shared pieces ------------------------------------------------------------


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn, *a) -> float:
    t0 = time.perf_counter()
    fn(*a)
    return time.perf_counter() - t0


def _dir_files(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, name))
    return n, size


def _commit_times(sink) -> dict[int, tuple[float, int]]:
    """{batch id: (commit time, rows)} from the sink's commit markers
    (``_commits/<id>.json``, written once the batch's data is in place)."""
    out = {}
    for m in sink.lineage():
        bid = int(m["batch_id"])
        path = os.path.join(sink.table_dir, "_commits", f"{bid:012d}.json")
        out[bid] = (os.stat(path).st_mtime, m["rows"])
    return out


def _file_batches(ckpt: str) -> dict[str, int]:
    """{file name: query batch id}.  The file source numbers its own log
    ``sources/0/<n>`` (a version line, then one JSON entry per file;
    every tenth log, ``<n>.compact``, repeats the earlier entries) and
    counts only batches that found new files; the query's offset log
    ``offsets/<batch>`` holds, as its last line, the source log offset
    each query batch read up to."""

    def logs(d: str):
        for name in os.listdir(d):
            if name.removesuffix(".compact").isdigit():
                with open(os.path.join(d, name)) as f:
                    yield int(name.removesuffix(".compact")), f.read().splitlines()

    ends = sorted(
        (json.loads(lines[-1])["logOffset"], bid)
        for bid, lines in logs(os.path.join(ckpt, "offsets"))
    )
    out = {}
    for _, lines in logs(os.path.join(ckpt, "sources", "0")):
        for line in lines[1:]:
            e = json.loads(line)
            out[os.path.basename(e["path"])] = min(b for end, b in ends if end >= e["batchId"])
    return out


def _read_s(ctx: Ctx, sink, reads: int) -> list[float]:
    """The times of ``reads`` runs of MergeSink.read_merged into a noop
    sink (merged_read_s is the median of a run's reads), after one untimed
    run: the first read of a sink took ~0.6 s longer than the rest."""
    _noop(sink.read_merged(ctx.spark))
    times = []
    for _ in range(reads):
        with ctx.tracer.span("read_merged", "streaming.sink"):
            times.append(_timed(lambda: _noop(sink.read_merged(ctx.spark))))
    return times


class SinkProbe:
    """Wraps ``MergeSink.process`` while a traced query runs: one span
    and one duration per call, and a count of calls that found their
    batch already committed (replays)."""

    def __init__(self, tracer: Tracer):
        from arion_spark.streaming.sink import MergeSink

        self.tracer, self.cls, self.orig = tracer, MergeSink, MergeSink.process
        self.ms: list[float] = []
        self.skips = 0

    def __enter__(self):
        orig, probe = self.orig, self

        def process(sink, batch_df, batch_id, extra=None):
            skip = sink.is_committed(batch_id)
            t0 = time.time()
            try:
                return orig(sink, batch_df, batch_id, extra)
            finally:
                t1 = time.time()
                probe.skips += skip
                probe.ms.append((t1 - t0) * 1000)
                probe.tracer.add("MergeSink.process", "streaming.sink", t0, t1)

        self.cls.process = process
        return self

    def __exit__(self, *exc):
        self.cls.process = self.orig
        return False


def _progress_layer(ctx: Ctx, query, probe: SinkProbe, out_dir: str) -> None:
    """Micro-batch, source, state and sink numbers of one traced query;
    micro-batches become spans from their progress records."""
    from datetime import datetime

    summ = progress_summary(query.recentProgress)
    for ts, ms, rows in summ.pop("_batches"):
        start = datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
        name = "micro-batch" if rows else "micro-batch (no data)"
        ctx.tracer.add(name, "streaming.pipeline", start, start + ms / 1000)
    n, size = _dir_files(os.path.join(out_dir, "data"))
    ctx.layer.update(summ)
    ctx.layer.update({
        "sink.process_ms_p50": pct(probe.ms, 0.5),
        "sink.process_ms_p90": pct(probe.ms, 0.9),
        "sink.files_written": n,
        "sink.bytes_written": size,
        "sink.replay_skips": probe.skips,
    })


def _check_stream(ctx: Ctx, sink, ref: dict) -> None:
    ctx.verdict += check.compare(ref, check.collect(sink.read_merged(ctx.spark)))


def _setup(ctx: Ctx, warm) -> float:
    """setup_s: the session start (timed by run.py) plus the warm-up."""
    ctx.tracer.run = "setup"
    with ctx.tracer.span("warm-up", "session"):
        ctx.layer["session.warmup_s"] = _timed(warm)
    return ctx.layer["session.start_s"] + ctx.layer["session.warmup_s"]


class _CpuUtil:
    """proc.cpu_util over the block: process-tree CPU seconds divided by
    (wall seconds x nproc)."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def __enter__(self):
        self.cpu0, self.t0 = self.ctx.sampler.cpu_s(), time.time()
        return self

    def __exit__(self, *exc):
        cpu = self.ctx.sampler.cpu_s() - self.cpu0
        self.ctx.layer["proc.cpu_util"] = cpu / ((time.time() - self.t0) * nproc())
        return False


# -- closed-loop passes (stream_chain, and the traced run of both) --------------


def _chain_query(ctx: Ctx, replay: str, tag: str, variant: str, per_trigger: int):
    """Start one pass over ``replay``: ``full`` is run_stream_pipeline;
    ``fold`` and ``fold+chain`` send the same stages into a noop sink."""
    from arion_spark.plans.spec import parse_spec
    from arion_spark.streaming.pipeline import apply_stateless_chain, run_stream_pipeline
    from arion_spark.streaming.source import read_replay_stream
    from arion_spark.streaming.stateful import ordered_fold_stream_bucketed

    out, ck = ctx.dir(tag, "out"), ctx.dir(tag, "ckpt")
    if variant == "full":
        return run_stream_pipeline(
            ctx.spark, check.SPEC, replay, out, ck, watermark=CHAIN_WATERMARK,
            max_files_per_trigger=per_trigger, sink_stats="minimal",
        )
    stream = read_replay_stream(ctx.spark, replay, per_trigger)
    df = ordered_fold_stream_bucketed(stream, watermark=CHAIN_WATERMARK)
    if variant == "fold+chain":
        df = apply_stateless_chain(df, parse_spec(check.SPEC))
    q = (df.writeStream.format("noop").outputMode("append")
         .option("checkpointLocation", ck).start())
    return q, None


def _chain_pass(ctx: Ctx, replay: str, tag: str, variant: str = "full",
                per_trigger: int = CHAIN_FILES_PER_BATCH) -> dict:
    t0 = time.time()
    with ctx.tracer.span(f"pass ({variant})", "streaming.pipeline"):
        q, sink = _chain_query(ctx, replay, tag, variant, per_trigger)
        q.processAllAvailable()
        q.stop()
    res = {"wall": time.time() - t0, "t0": t0, "query": q, "sink": sink, "out": ctx.dir(tag, "out")}
    if sink is not None:
        commits = _commit_times(sink).values()
        res["rows"] = sum(r for _, r in commits)
        res["lat"] = [(c - t0) * 1000 for c, r in commits for _ in range(r)]
    return res


def _self_times(ctx: Ctx, replay: str, per_trigger: int, full: dict) -> None:
    """stateful.fold_s, chain.self_s and sink.self_s from the fold-only and
    fold+chain variants of the closed-loop pass ``full``."""
    ctx.tracer.run = "fold"
    fold = _chain_pass(ctx, replay, "fold", "fold", per_trigger)
    ctx.tracer.run = "fold+chain"
    chain = _chain_pass(ctx, replay, "chain", "fold+chain", per_trigger)
    ctx.layer.update({
        "stateful.fold_s": fold["wall"],
        "chain.self_s": chain["wall"] - fold["wall"],
        "sink.self_s": full["wall"] - chain["wall"],
    })


def _batch_pass(ctx: Ctx, paths: list[str], tag: str, ops: int | None = None) -> dict:
    """``ops=None``: the compiled batch chain with its copy to parquet;
    ``ops=k``: the first k operations (0 = the scan alone) into noop."""
    from arion_spark import run_pipeline
    from arion_spark.transcripts import TRANSCRIPT_SCHEMA

    out = ctx.dir(tag, "copy")
    t0 = time.time()
    with ctx.tracer.span("run_pipeline" if ops is None else f"prefix {ops}", "operators"):
        df = ctx.spark.read.schema(TRANSCRIPT_SCHEMA).parquet(*paths)
        if ops is None:
            copy = {"type": "copy", "params": {"output_table": out}}
            run_pipeline(ctx.spark, {"operations": check.SPEC["operations"] + [copy]}, df)
        elif ops == 0:
            _noop(df)
        else:
            _noop(run_pipeline(ctx.spark, {"operations": check.SPEC["operations"][:ops]}, df))
    return {"wall": time.time() - t0, "out": out}


def _operators(ctx: Ctx, paths: list[str], rows: list[dict]) -> None:
    """plans.build_ms, and the operators' self times by prefix
    differencing: the chain prefixes run into noop and each is
    subtracted from the next; the copy is the full chain minus its
    longest noop prefix.  The copy's output is checked against a batch
    reference (a batch run keeps the turns a stream drops as late)."""
    from arion_spark import run_pipeline
    from arion_spark.transcripts import TRANSCRIPT_SCHEMA

    ctx.tracer.run = "operators"
    df = ctx.spark.read.schema(TRANSCRIPT_SCHEMA).parquet(*paths)
    with ctx.tracer.span("run_pipeline (build)", "plans"):
        ctx.layer["plans.build_ms"] = _timed(run_pipeline, ctx.spark, check.SPEC, df) * 1000
    prefix = [_batch_pass(ctx, paths, f"prefix{k}", ops=k)["wall"] for k in range(4)]
    full = _batch_pass(ctx, paths, "batch")
    out = check.collect(ctx.spark.read.parquet(full["out"]))
    ctx.verdict += check.compare(check.expected(rows), out)
    ctx.layer.update({
        "operators.read_meta_s": prefix[1] - prefix[0],
        "operators.normalize_s": prefix[2] - prefix[1],
        "operators.fingerprint_s": prefix[3] - prefix[2],
        "operators.copy_s": full["wall"] - prefix[3],
        # the stream chain records no info[]; the batch copy does
        "operators.failed_rows": sum(not all(r["info_ok"]) for r in out),
    })


# -- stream_chain ---------------------------------------------------------------


def stream_chain(ctx: Ctx, trace: bool) -> dict:
    inputs, paths = _cached(ctx, f"chain{CHAIN_TURNS}x{CHAIN_FILES}", lambda: gen.chain_inputs(
        ctx.seed, CHAIN_TURNS, CHAIN_FILES, CHAIN_FILES_PER_BATCH, CHAIN_WATERMARK_MS))
    replay = os.path.dirname(paths[0])
    ref = check.expected(inputs.rows, inputs.late)
    n_in = sum(len(f) for f in inputs.files)

    def gate(p: dict) -> None:
        err = check.late_drop_error(n_in, p["rows"], len(inputs.late))
        if err:
            ctx.invalid.append(err)
        _check_stream(ctx, p["sink"], ref)

    # the first micro-batch of a session pays ~15 s of one-time costs:
    # the warm-up is one pass over the first file through the same query
    warm = os.path.dirname(_stage(paths[:1], ctx.dir("warm_replay"))[0])
    setup_s = _setup(ctx, lambda: _chain_pass(ctx, warm, "warm"))
    if trace:
        ctx.tracer.run = "untraced"
        base = _chain_pass(ctx, replay, "base")
        ctx.tracer.run = "traced"
        with SinkProbe(ctx.tracer) as probe, _CpuUtil(ctx):
            traced = _chain_pass(ctx, replay, "traced")
        _progress_layer(ctx, traced["query"], probe, traced["out"])
        _read_s(ctx, traced["sink"], CHAIN_READS)
        _self_times(ctx, replay, CHAIN_FILES_PER_BATCH, base)
        gate(base)
        gate(traced)
        _operators(ctx, paths, inputs.rows)
        ctx.layer.update({
            "state.late_dropped": n_in - traced["rows"],
            # closed loop: every replay file is waiting when a pass
            # starts, and no generator runs
            "source.backlog_files_max": len(paths),
            "gen.lag_ms_max": 0.0,
            "trace.overhead_pct": 100 * (traced["wall"] - base["wall"]) / base["wall"],
        })
        return {}

    # the reference job runs before the first pass and after each pass's
    # reads
    ctx.calibrate()
    passes, reads = [], []
    for n in range(max(1, round(ctx.seconds / CHAIN_PASS_S))):
        passes.append(_chain_pass(ctx, replay, f"pass{n}"))
        reads += _read_s(ctx, passes[-1]["sink"], CHAIN_READS)
        ctx.calibrate()
    print(f"perfbench: pass walls {[round(p['wall'], 2) for p in passes]}, "
          f"reads {[round(t, 2) for t in reads]}", file=sys.stderr)
    for p in passes:
        gate(p)
    lat = [x for p in passes for x in p["lat"]]
    return {
        "turns_per_s": sum(p["rows"] for p in passes) / sum(p["wall"] for p in passes),
        "latency_p50_ms": pct(lat, 0.5),
        "latency_p90_ms": pct(lat, 0.9),
        "merged_read_s": statistics.median(reads),
        "setup_s": setup_s,
    }


# -- stream_live ----------------------------------------------------------------


def _live_query(ctx: Ctx, source: str, tag: str):
    from arion_spark.streaming.pipeline import run_stream_pipeline

    # jobs/run_stream.py's watermark and full sink stats; a trigger takes
    # every landed file (see LIVE_FILES_PER_TRIGGER)
    return run_stream_pipeline(
        ctx.spark, check.SPEC, source, ctx.dir(tag, "out"), ctx.dir(tag, "ckpt"),
        watermark="1 hour", max_files_per_trigger=LIVE_FILES_PER_TRIGGER, sink_stats="full",
    )


def _live_run(ctx: Ctx, files: list[list[dict]], paths: list[str], tag: str,
              probe: SinkProbe | None = None) -> dict:
    """Warm the query with the first LIVE_WARM_FILES files, landed and
    drained one by one; then the open loop: a generator thread renames
    timed file f into the landing directory at t0 + (f + 1) * interval,
    whatever Spark is doing; turn j of timed file f was created at
    t0 + f * interval + j / rate."""
    landing = ctx.dir(tag, "landing")
    os.makedirs(landing)
    staged = _stage(paths, ctx.dir(tag, "staged"))
    warm, timed = staged[:LIVE_WARM_FILES], staged[LIVE_WARM_FILES:]
    timed_rows = files[LIVE_WARM_FILES:]

    def land(src: str) -> None:
        os.utime(src)
        os.rename(src, os.path.join(landing, os.path.basename(src)))

    t_warm = time.perf_counter()
    with ctx.tracer.span("warm-up", "session"):
        q, sink = _live_query(ctx, landing, tag)
        for src in warm:
            land(src)
            q.processAllAvailable()
    warm_s = time.perf_counter() - t_warm
    # the reference job runs before the schedule and after the reads
    ctx.calibrate()

    interval = LIVE_INTERVAL_MS / 1000
    t0 = time.time() + interval
    landed: list[float] = []

    def generate() -> None:
        for f, src in enumerate(timed):
            time.sleep(max(0.0, t0 + (f + 1) * interval - time.time()))
            land(src)
            landed.append(time.time())

    with ctx.tracer.span("open-loop run", "streaming.pipeline"), _CpuUtil(ctx):
        generator = threading.Thread(target=generate, name="perfbench-generator")
        generator.start()
        generator.join()
        q.processAllAvailable()
        q.stop()
    read_s = _read_s(ctx, sink, LIVE_READS)
    ctx.calibrate()
    batch_of = _file_batches(ctx.dir(tag, "ckpt"))
    commits = _commit_times(sink)
    done = [commits[batch_of[os.path.basename(p)]][0] for p in timed]
    lat = [
        (done[f] - (t0 + f * interval + j / LIVE_RATE)) * 1000
        for f, rows in enumerate(timed_rows) for j in range(len(rows))
    ]
    series = check.backlog(landed, done)
    print(f"perfbench: {tag}: backlog per landed file {series}", file=sys.stderr)
    if check.backlog_grows(series):
        ctx.invalid.append(
            f"backlog grew over the run ({series}): {LIVE_RATE} turns/s is unsustainable")
    if probe is not None:
        _progress_layer(ctx, q, probe, ctx.dir(tag, "out"))
    return {
        "sink": sink, "lat": lat, "warm_s": warm_s,
        "rows": sum(len(f) for f in timed_rows), "wall": max(done) - t0,
        "backlog": max(series),
        "lag_ms": max((landed[f] - (t0 + (f + 1) * interval)) * 1000 for f in range(len(timed))),
        "read_s": read_s,
    }


def stream_live(ctx: Ctx, trace: bool) -> dict:
    n_files = LIVE_WARM_FILES + ctx.seconds * 1000 // LIVE_INTERVAL_MS
    inputs, paths = _cached(ctx, f"live{LIVE_RATE}x{LIVE_INTERVAL_MS}x{n_files}", lambda: gen.live_inputs(
        ctx.seed, LIVE_RATE, LIVE_INTERVAL_MS, n_files, LIVE_OPEN_CONVS))
    ref = check.expected(inputs.rows)

    # the first run's warm files are the session warm-up
    ctx.tracer.run = "untraced"
    first = _live_run(ctx, inputs.files, paths, "run0")
    ctx.layer["session.warmup_s"] = first["warm_s"]
    setup_s = ctx.layer["session.start_s"] + first["warm_s"]
    runs = [first]
    if trace:
        ctx.tracer.run = "traced"
        with SinkProbe(ctx.tracer) as probe:
            runs.append(_live_run(ctx, inputs.files, paths, "run1", probe))
    for r in runs:
        _check_stream(ctx, r["sink"], ref)
    ctx.layer.update({
        "source.backlog_files_max": max(r["backlog"] for r in runs),
        "gen.lag_ms_max": max(r["lag_ms"] for r in runs),
    })
    if trace:
        base, traced = runs
        replay = os.path.dirname(_stage(paths, ctx.dir("replay"))[0])
        ctx.tracer.run = "closed loop"
        full = _chain_pass(ctx, replay, "closed", per_trigger=LIVE_FILES_PER_TRIGGER)
        _self_times(ctx, replay, LIVE_FILES_PER_TRIGGER, full)
        _operators(ctx, paths, inputs.rows)
        p50 = pct(base["lat"], 0.5)
        ctx.layer.update({
            "state.late_dropped": len(ref) - full["rows"],
            "trace.overhead_pct": 100 * (pct(traced["lat"], 0.5) - p50) / p50,
        })
        return {}
    return {
        "turns_per_s": first["rows"] / first["wall"],
        "latency_p50_ms": pct(first["lat"], 0.5),
        "latency_p90_ms": pct(first["lat"], 0.9),
        "merged_read_s": statistics.median(first["read_s"]),
        "setup_s": setup_s,
    }


WORKLOADS = {
    "stream_chain": stream_chain,
    "stream_live": stream_live,
}

#: end-to-end metrics that time the engine's work: +1 a duration, -1 a
#: rate.  stream_live's turns_per_s is not among them: the generator's
#: fixed rate sets it, and host speed moves only its final drain.
_HOST_BOUND = {
    "turns_per_s": -1, "latency_p50_ms": 1, "latency_p90_ms": 1,
    "merged_read_s": 1, "setup_s": 1,
}
_OFFERED = {"stream_live": {"turns_per_s"}}


def at_reference_speed(workload: str, raw: dict, speed: float) -> dict:
    """``raw`` end-to-end metrics as they would read on a host running the
    reference job ``speed`` times as fast as this one did during the run
    (``speed`` < 1: this host was slow): durations times ``speed``, rates
    divided by it.  The shared host's speed drifted by up to 2.4x within
    20 minutes, and every engine time drifted with it."""
    out = {}
    for k, v in raw.items():
        e = 0 if k in _OFFERED.get(workload, ()) else _HOST_BOUND.get(k, 0)
        out[k] = v * speed**e
    return out
