"""Measurement helpers: /proc sampler, in-memory spans, progress summary.

Everything here observes the engine from outside: the sampler reads
``/proc``, spans are opened around calls into the engine's public
functions, and micro-batch numbers come from Spark's public
``StreamingQueryProgress`` records.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, utime+stime ticks) of ``pid``, None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: fields start after the last ')'
    fields = raw[raw.rindex(")") + 2 :].split()
    return int(fields[1]), int(fields[11]) + int(fields[12])


def pss_mb(pid: int) -> float:
    """Proportional set size of ``pid`` in MiB: resident pages, each page
    shared by n processes counted 1/n, so forked Python workers do not
    count their shared pages twice; 0.0 if the process is gone."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def descendants(root: int) -> dict[int, int]:
    """{pid: cpu ticks} for every live descendant of ``root``."""
    info = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                info[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in info.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out[pid] = info[pid][1]
        todo.extend(kids.get(pid, ()))
    return out


class ProcSampler:
    """Samples the process tree under this process (the Spark JVM and its
    Python workers) every ``period`` seconds on a daemon thread.

    ``peak_rss_mb`` is the largest summed resident size seen, with shared
    pages split among their sharers (PSS, see :func:`pss_mb`); summed
    plain RSS jumped by up to 1.5 GB between runs of one workload as the
    number of forked workers alive at a sample varied.  CPU seconds are the
    summed utime+stime of every process seen (a worker that exited keeps
    its last reading), so ``cpu_s()`` differences give process-tree CPU
    time over an interval."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_rss_mb = 0.0
        self._cpu: dict[int, int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "ProcSampler":
        self._thread.start()
        return self

    def sample(self) -> None:
        tree = descendants(os.getpid())
        rss = sum(pss_mb(pid) for pid in tree)
        with self._lock:
            self.peak_rss_mb = max(self.peak_rss_mb, rss)
            self._cpu.update(tree)

    def cpu_s(self) -> float:
        self.sample()
        with self._lock:
            return sum(self._cpu.values()) / _TICK

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Tracer:
    """In-memory spans ``(name, layer, start, end, run)``; parents are
    assigned at the end by interval containment within a run, so spans
    reconstructed after the fact (micro-batches from progress records)
    nest like the ones timed live.  A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.run = "setup"

    def add(self, name: str, layer: str, start: float, end: float) -> None:
        if self.enabled:
            self.spans.append(
                {"name": name, "layer": layer, "start": start, "end": end, "run": self.run}
            )

    def span(self, name: str, layer: str):
        return _Span(self, name, layer)

    def finish(self) -> list[dict]:
        """Assign parents and self times (duration minus the union of the
        children's intervals)."""
        spans = sorted(self.spans, key=lambda s: (s["start"], -s["end"]))
        for i, s in enumerate(spans):
            s["id"] = i
            s["parent"] = None
        for s in spans:
            best = None
            for p in spans:
                if (
                    p is not s and p["run"] == s["run"]
                    and p["start"] <= s["start"] and s["end"] <= p["end"]
                    and (p["end"] - p["start"]) > (s["end"] - s["start"])
                    and (best is None or p["end"] - p["start"] < best["end"] - best["start"])
                ):
                    best = p
            s["parent"] = None if best is None else best["id"]
        for s in spans:
            kids = sorted(
                (c["start"], c["end"]) for c in spans if c["parent"] == s["id"]
            )
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in kids:
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            s["self"] = (s["end"] - s["start"]) - covered
        return spans

    @staticmethod
    def table(spans: list[dict]) -> str:
        rows: dict[tuple[str, str], list[float]] = {}
        for s in spans:
            r = rows.setdefault((s["layer"], s["name"]), [0, 0.0, 0.0])
            r[0] += 1
            r[1] += s["end"] - s["start"]
            r[2] += s["self"]
        lines = [f"{'layer':<22}{'span':<28}{'n':>5}{'total_s':>10}{'self_s':>10}"]
        for (layer, name), (n, tot, self_) in sorted(rows.items()):
            lines.append(f"{layer:<22}{name:<28}{n:>5}{tot:>10.3f}{self_:>10.3f}")
        return "\n".join(lines)


class _Span:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.tracer, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        self.start = time.time()
        return self

    def __exit__(self, *exc):
        self.tracer.add(self.name, self.layer, self.start, time.time())
        return False


def _calib_udf(batches):
    import hashlib

    for pdf in batches:
        pdf["s"] = [hashlib.md5(v.upper().encode()).hexdigest() for v in pdf["s"]]
        yield pdf


class Calibrator:
    """A fixed reference job, timed: a range through JVM expressions, a
    ``mapInPandas`` step in the Python workers, a shuffle and a parquet
    write - the kinds of work a micro-batch does - in a session of its
    own whose settings are pinned here, so nothing the program under
    test does or configures changes it.  Its time tracks how fast the
    shared host runs at the moment."""

    CONF = {
        "spark.sql.shuffle.partitions": None,  # the slot count
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    }

    def __init__(self, spark, slots: int, out_dir: str):
        self.session = spark.newSession()
        for k, v in self.CONF.items():
            self.session.conf.set(k, v if v is not None else str(slots))
        self.slots, self.out = slots, out_dir
        self.times: list[float] = []
        # compiles the job's code; a run on 1k rows left the next one
        # ~20% slow
        self.run()
        self.times.clear()

    def run(self) -> float:
        t0 = time.perf_counter()
        (self.session.range(0, 80_000 * self.slots, 1, self.slots)
         .selectExpr("id % 997 as k", "sha2(cast(id as string), 256) as s")
         .mapInPandas(_calib_udf, "k long, s string")
         .groupBy("k").agg({"s": "max"})
         .write.mode("overwrite").parquet(self.out))
        t = time.perf_counter() - t0
        self.times.append(t)
        return t


def pct(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 1]); 0.0 for no samples."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def progress_summary(progress: list) -> dict:
    """Per-layer numbers from a query's ``recentProgress`` (data batches
    only: the trailing no-data batch that only advances the watermark is
    excluded from the per-batch percentiles)."""
    recs = [json.loads(p.json) for p in progress]
    data = [r for r in recs if r.get("numInputRows", 0) > 0]
    d = lambda r, k: (r.get("durationMs") or {}).get(k, 0)  # noqa: E731
    ops = [op for r in recs for op in r.get("stateOperators", [])]
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    return {
        "batch.count": len(data),
        "batch.rows_p50": med([r["numInputRows"] for r in data]),
        "batch.trigger_ms_p50": pct([d(r, "triggerExecution") for r in data], 0.5),
        "batch.trigger_ms_p90": pct([d(r, "triggerExecution") for r in data], 0.9),
        "batch.planning_ms": med([d(r, "queryPlanning") for r in data]),
        "batch.log_ms": med([d(r, "walCommit") + d(r, "commitOffsets") for r in data]),
        "source.latest_offset_ms": med([d(r, "latestOffset") for r in data]),
        "source.get_batch_ms": med([d(r, "getBatch") for r in data]),
        "state.update_ms": sum(op.get("allUpdatesTimeMs", 0) for op in ops),
        "state.commit_ms": med([op.get("commitTimeMs", 0) for op in ops]),
        "state.memory_bytes_max": max((op.get("memoryUsedBytes", 0) for op in ops), default=0),
        "_batches": [
            (r["timestamp"], d(r, "triggerExecution"), r["numInputRows"]) for r in recs
        ],
    }
