"""Seeded input generator for the benchmark workloads.

Pure Python + pyarrow: no Spark, no wall clock.  The rows of a workload
are a function of ``(workload, seed)`` alone, so two runs with one seed
feed the engine byte-identical parquet files.

Shapes (see FIXTURES.md §1 for the transcript schema):

* ``chain`` (``stream_chain``, ``batch_chain``): mostly short contiguous
  conversations, a few hot conversations holding >= 5% of the turns each,
  adjacent out-of-order turns within the watermark, and planted late
  turns.  A late turn is always the *final* turn of its conversation and
  is moved to a file that arrives after the watermark has passed its
  event time, so the input alone decides that it is dropped and no later
  turn of its conversation waits on the gap.
* ``live`` (``stream_live``): many concurrently open conversations with
  uniform keys, turns interleaved in creation order, event time equal to
  the scheduled creation time (offset from a fixed epoch).
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generated rows change, so cached inputs are rebuilt
VERSION = 2

BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("ms", tz="UTC")),
    ]
)

_WORDS = (
    "query plan shuffle merge window state stream batch join filter agg scan "
    "sort hash skew salt watermark checkpoint sink source turn model tool user "
    "assistant latency replay commit offset bucket fold digest vector token"
).split()
_ROLES = ("user", "assistant", "tool", "system")
_TOOLS = ("search", "calc", "code", "browse")
_DECOR = (
    ", Model Released (MR) confirmed",
    " property released (pr)",
    ", keywords, alpha, beta , gamma",
    " Splitsko-dalmatinska županija",
    " [copyright: (c) 2024 Arion Labs]",
    " [city: Split] [province_state: Splitsko-dalmatinska]"
    " [country_name: Croatia] [country_code: HR]",
    " [byline: Ada Lovelace] [byline: Grace Hopper]",
    " [subject: 01005000] [subject: 15073001]",
    " [special_instructions: hold for release]",
)


def rng_for(workload: str, seed: int) -> random.Random:
    h = hashlib.sha256(f"{workload}/{seed}/{VERSION}".encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


def _text(rng: random.Random) -> str:
    # lengths straddle the normalize width (64): ~20% empty-ish / short
    n = rng.choice((0, 1, 3, 6, 9, 12, 16, 24))
    words = " ".join(rng.choice(_WORDS) for _ in range(n))
    if rng.random() < 0.35:
        words += rng.choice(_DECOR)
    return words


def _turn(rng: random.Random, conv_id: str, idx: int, ts_ms: int) -> dict:
    role = _ROLES[rng.randrange(4)]
    return {
        "conv_id": conv_id,
        "turn_idx": idx,
        "role": role,
        "text": _text(rng),
        "tool": rng.choice(_TOOLS) if role == "tool" else None,
        "ts": ts_ms,
    }


@dataclass
class Inputs:
    """Rows in arrival order, split into files; ``late`` holds the keys
    of planted beyond-watermark turns (dropped by the stream, kept by a
    batch run)."""

    files: list[list[dict]]
    late: set = field(default_factory=set)

    @property
    def rows(self) -> list[dict]:
        return [r for f in self.files for r in f]


def chain_inputs(
    seed: int,
    n_turns: int,
    n_files: int,
    files_per_batch: int,
    watermark_ms: int,
    hot_convs: int = 3,
    hot_share: float = 0.06,
    swap_rate: float = 0.02,
    late_turns: int = 40,
    step_ms: int = 20,
) -> Inputs:
    """Arrival-ordered chain replay: a global event clock advances
    ``step_ms`` per arriving turn; regular conversations are contiguous
    runs, hot conversations are sprinkled across the whole replay."""
    rng = rng_for("chain", seed)
    n_hot = int(n_turns * hot_share) * hot_convs
    # arrival slots: True = a hot turn, chosen uniformly over the replay
    hot_slots = set(rng.sample(range(n_turns), n_hot))
    hot_next = [0] * hot_convs
    order: list[tuple[str, int]] = []  # (conv_id, turn_idx) in arrival order
    conv_no, cur, cur_len, cur_idx = 0, None, 0, 0
    for slot in range(n_turns):
        if slot in hot_slots:
            h = rng.randrange(hot_convs)
            order.append((f"hot-{h}", hot_next[h]))
            hot_next[h] += 1
            continue
        if cur is None or cur_idx >= cur_len:
            r = rng.random()
            cur_len = 1 if r < 0.3 else rng.randint(2, 10) if r < 0.9 else rng.randint(11, 40)
            cur, cur_idx = f"conv-{conv_no:07d}", 0
            conv_no += 1
        order.append((cur, cur_idx))
        cur_idx += 1
    ts = {key: BASE_MS + i * step_ms for i, key in enumerate(order)}
    length: dict[str, int] = {}
    for cid, idx in order:
        length[cid] = max(length.get(cid, 0), idx + 1)

    # adjacent out-of-order arrivals: turn i+1 lands just before turn i
    # (same conversation, a few slots apart at most -> within watermark)
    for i in range(len(order) - 1):
        a, b = order[i], order[i + 1]
        if a[0] == b[0] and b[1] == a[1] + 1 and rng.random() < swap_rate:
            order[i], order[i + 1] = b, a

    # late turns: final turn of a regular conversation, re-inserted where
    # the event clock is past its ts + watermark + one batch of event time
    # (a batch's watermark lags the clock by at most one batch) + two
    # minutes; only turns early enough for that slot to exist qualify
    per_batch_ms = n_turns // n_files * files_per_batch * step_ms
    horizon = (watermark_ms + per_batch_ms + 120_000) // step_ms
    candidates = [
        (c, length[c] - 1)
        for c in sorted(length)
        if c.startswith("conv-") and length[c] >= 2
        and (ts[(c, length[c] - 1)] - BASE_MS) // step_ms + horizon < len(order) - late_turns
    ]
    if len(candidates) < late_turns:
        raise ValueError("replay too short for its late turns")
    late = set(rng.sample(candidates, late_turns))
    keep = [k for k in order if k not in late]
    inserts: dict[int, list] = {}
    for key in sorted(late):
        target = (ts[key] - BASE_MS) // step_ms + horizon
        inserts.setdefault(target, []).append(key)
    order = []
    for i, key in enumerate(keep):
        order.extend(inserts.get(i, ()))
        order.append(key)

    rows = [_turn(rng, cid, idx, ts[(cid, idx)]) for cid, idx in order]
    per_file = -(-len(rows) // n_files)
    files = [rows[i : i + per_file] for i in range(0, len(rows), per_file)]
    return Inputs(files, late)


def live_inputs(
    seed: int, rate: int, interval_ms: int, n_files: int, open_convs: int
) -> Inputs:
    """Open-loop schedule: turn ``k`` is created at ``k / rate`` seconds;
    file ``f`` holds the turns created in ``[f, f+1) * interval``.  Each
    turn continues a uniformly chosen open conversation; a finished
    conversation is replaced by a fresh one."""
    rng = rng_for("live", seed)
    per_file = rate * interval_ms // 1000
    nxt = 0
    convs = []
    for _ in range(open_convs):
        convs.append([f"live-{nxt:07d}", 0, rng.randint(5, 80)])
        nxt += 1
    files = []
    for f in range(n_files):
        rows = []
        for j in range(per_file):
            k = f * per_file + j
            slot = rng.randrange(open_convs)
            c = convs[slot]
            rows.append(_turn(rng, c[0], c[1], BASE_MS + k * 1000 // rate))
            c[1] += 1
            if c[1] >= c[2]:
                convs[slot] = [f"live-{nxt:07d}", 0, rng.randint(5, 80)]
                nxt += 1
        files.append(rows)
    return Inputs(files)


def write_files(inputs: Inputs, out_dir: str) -> list[str]:
    """One parquet file per input file, named in arrival order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, rows in enumerate(inputs.files):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        cols = {name: [r[name] for r in rows] for name in SCHEMA.names}
        pq.write_table(pa.Table.from_pydict(cols, schema=SCHEMA), path)
        paths.append(path)
    return paths
