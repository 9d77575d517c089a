"""Correctness gate: a reference computed without Spark, compared row by row.

The reference uses the pure-Python operator semantics in
``arion_spark.oracle`` and ``hashlib``; the named ``[field: value]``
markers are parsed here with Python's ``re``.  Nothing on this path calls
Spark or the operators under test.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass

from arion_spark import oracle

#: normalize parameters of the benchmark's chain spec
WIDTH, FILL, GRAVITY = 64, "fill", "center"
SPEC = {
    "operations": [
        {"type": "read_meta", "params": {"info": True}},
        {"type": "normalize", "params": {"width": WIDTH, "type": FILL, "gravity": GRAVITY}},
        {"type": "fingerprint", "params": {"type": "md5"}},
    ]
}

NAMED_SCALARS = (
    "copyright", "city", "province_state", "country_name", "country_code",
    "special_instructions",
)
NAMED_ARRAYS = ("subject", "byline")
_MARKER = {n: re.compile(r"\[" + n + r":\s*([^\]]*)\]") for n in NAMED_SCALARS + NAMED_ARRAYS}

#: compared on every output row besides the key (conv_id, turn_idx)
FIELDS = (
    "role", "text", "tool", "ts", "turn_md5", "conv_fp", "normalized_text",
    "caption", "keywords", "model_released", "property_released", "n_chars",
    "n_tokens", "has_tool",
) + NAMED_SCALARS + NAMED_ARRAYS


def _trim(s: str) -> str:
    # SQL trim strips spaces only, not every whitespace character
    return s.strip(" ")


def expected(rows: list[dict], drop: set = frozenset()) -> dict[tuple, dict]:
    """Reference output keyed by (conv_id, turn_idx) for ``rows`` minus
    the keys in ``drop`` (the planted late turns a stream must drop)."""
    convs: dict[str, list[dict]] = {}
    for r in rows:
        if (r["conv_id"], r["turn_idx"]) not in drop:
            convs.setdefault(r["conv_id"], []).append(r)
    out = {}
    for cid, turns in convs.items():
        fp = ""
        for r in sorted(turns, key=lambda r: r["turn_idx"]):
            text = r["text"]
            m = oracle.turn_md5(text)
            fp = hashlib.md5((fp + m).encode("ascii")).hexdigest()
            meta = oracle.read_meta(text, r["tool"])
            rec = {
                "role": r["role"], "text": text, "tool": r["tool"], "ts": r["ts"],
                "turn_md5": m, "conv_fp": fp,
                "normalized_text": oracle.normalize_full(
                    text, width=WIDTH, type_=FILL, gravity=GRAVITY
                ),
                "caption": meta["caption"], "keywords": meta["keywords"],
                "model_released": meta["model_released"],
                "property_released": meta["property_released"],
                "n_chars": meta["n_chars"], "n_tokens": meta["n_tokens"],
                "has_tool": meta["has_tool"],
            }
            for n in NAMED_SCALARS:
                hit = _MARKER[n].search(text)
                rec[n] = (_trim(hit.group(1)) or None) if hit else None
            for n in NAMED_ARRAYS:
                rec[n] = [_trim(v) for v in _MARKER[n].findall(text)]
            out[(cid, r["turn_idx"])] = rec
    return out


@dataclass
class Verdict:
    expected: int
    missing: int = 0
    extra: int = 0
    duplicated: int = 0
    mismatched: int = 0
    failed_info: int = 0

    @property
    def bad(self) -> int:
        return self.missing + self.extra + self.duplicated + self.mismatched + self.failed_info

    @property
    def fail_frac(self) -> float:
        return self.bad / max(1, self.expected)

    def __add__(self, o: "Verdict") -> "Verdict":
        return Verdict(*(getattr(self, f) + getattr(o, f) for f in self.__dataclass_fields__))


def compare(ref: dict[tuple, dict], got: list[dict]) -> Verdict:
    """Count bad rows of ``got`` against ``ref``.  Each output row is a
    dict with the key columns, every name in FIELDS, and optionally
    ``info_ok`` (list of per-operation results; the reference says every
    operation succeeds on non-null text)."""
    v = Verdict(expected=len(ref))
    seen = set()
    for row in got:
        key = (row["conv_id"], row["turn_idx"])
        want = ref.get(key)
        if want is None:
            v.extra += 1
        elif key in seen:
            v.duplicated += 1
        else:
            seen.add(key)
            if any(row[f] != want[f] for f in FIELDS):
                v.mismatched += 1
            elif not all(row.get("info_ok", (True,))):
                v.failed_info += 1
    v.missing = len(ref) - len(seen)
    return v


def late_drop_error(n_in: int, n_out: int, n_late: int) -> str | None:
    """A stream must drop exactly the planted late turns: the input
    decides their drop, so any other count is an engine fault."""
    if n_in - n_out != n_late:
        return f"stream dropped {n_in - n_out} turns, {n_late} were planted late"
    return None


def backlog(landed: list[float], done: list[float]) -> list[int]:
    """Backlog seen as file ``f`` lands at ``landed[f]``: the files
    landed so far (``f`` included) whose batch commits at ``done[g]``
    after that moment."""
    return [sum(1 for g in range(f + 1) if done[g] > t) for f, t in enumerate(landed)]


def backlog_grows(series: list[int]) -> bool:
    """True when the engine fell behind the offered rate.  A trigger
    takes every landed file, so a run that keeps up has a sawtooth
    backlog whose peaks (the files one trigger takes) stay level; a run
    that falls behind takes more files each trigger.  Growth is a later
    peak above 1.5 times the first, or, when no trigger ended during the
    schedule, a final backlog 1.5 times the first."""
    peaks = [a for a, b in zip(series, series[1:]) if b < a]
    if not peaks:
        return series[-1] > 1.5 * series[0]
    return max(peaks[1:] + series[-1:]) > 1.5 * peaks[0]


def collect(df) -> list[dict]:
    """Output rows of a DataFrame in the shape ``compare`` takes (ts as
    epoch milliseconds, info as its per-operation result flags)."""
    from pyspark.sql import functions as F

    cols = [F.col("conv_id"), F.col("turn_idx")]
    cols += [F.unix_millis("ts").alias("ts") if f == "ts" else F.col(f) for f in FIELDS]
    if "info" in df.columns:
        cols.append(F.col("info.result").alias("info_ok"))
    return df.select(*cols).toArrow().to_pylist()
