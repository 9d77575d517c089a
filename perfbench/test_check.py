"""Tests of the benchmark's own correctness gate and run-validity checks.

No Spark: the gate is fed generated rows and hand-altered outputs.  Run
from the repository root with ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import copy

from perfbench import check, gen


def _inputs():
    return gen.chain_inputs(
        seed=3, n_turns=2_000, n_files=4, files_per_batch=2,
        watermark_ms=10_000, late_turns=5, step_ms=200,
    )


def _output(ref: dict) -> list[dict]:
    """The rows a correct engine emits for ``ref``, in the shape
    ``check.collect`` returns."""
    out = []
    for (cid, idx), rec in ref.items():
        row = {"conv_id": cid, "turn_idx": idx, "info_ok": [True, True, True]}
        row.update(copy.deepcopy(rec))
        out.append(row)
    return out


def test_generator_is_deterministic_per_seed():
    a, b = _inputs(), _inputs()
    assert a.files == b.files and a.late == b.late
    assert gen.chain_inputs(4, 2_000, 4, 2, 10_000, late_turns=5, step_ms=200).files != a.files


def test_late_turns_are_final_and_arrive_after_the_watermark():
    inp = _inputs()
    rows = inp.rows
    assert len(inp.late) == 5
    last = {}
    for r in rows:
        last[r["conv_id"]] = max(last.get(r["conv_id"], -1), r["turn_idx"])
    seen_ts = []
    for r in rows:
        if (r["conv_id"], r["turn_idx"]) in inp.late:
            assert r["turn_idx"] == last[r["conv_id"]]
            assert max(seen_ts) - r["ts"] > 10_000
        seen_ts.append(r["ts"])


def test_correct_output_passes():
    inp = _inputs()
    ref = check.expected(inp.rows, inp.late)
    v = check.compare(ref, _output(ref))
    assert v.bad == 0 and v.fail_frac == 0.0 and v.expected == len(ref)


def test_one_corrupted_and_one_dropped_row_are_both_counted():
    inp = _inputs()
    ref = check.expected(inp.rows, inp.late)
    out = _output(ref)
    out[3]["conv_fp"] = "0" * 32
    del out[7]
    v = check.compare(ref, out)
    assert (v.mismatched, v.missing, v.extra, v.duplicated) == (1, 1, 0, 0)
    assert v.fail_frac == 2 / len(ref)


def test_extra_duplicated_and_failed_info_rows_are_counted():
    inp = _inputs()
    ref = check.expected(inp.rows, inp.late)
    out = _output(ref)
    late_row = next(r for r in inp.rows if (r["conv_id"], r["turn_idx"]) in inp.late)
    out.append(dict(out[0], conv_id=late_row["conv_id"], turn_idx=late_row["turn_idx"]))
    out.append(copy.deepcopy(out[1]))
    out[2]["info_ok"] = [True, False, True]
    v = check.compare(ref, out)
    assert (v.extra, v.duplicated, v.failed_info, v.missing) == (1, 1, 1, 0)
    assert v.fail_frac > 0


def test_late_drop_count_must_match_the_planted_count():
    assert check.late_drop_error(100, 95, 5) is None
    assert "dropped 6" in check.late_drop_error(100, 94, 5)
    assert "dropped 4" in check.late_drop_error(100, 96, 5)


def test_backlog_counts_landed_uncommitted_files():
    landed = [1.0, 2.0, 3.0, 4.0]
    done = [2.5, 2.5, 3.5, 4.5]
    assert check.backlog(landed, done) == [1, 2, 1, 1]
    assert check.backlog(landed, [9.0] * 4) == [1, 2, 3, 4]


def test_backlog_growth_is_detected_but_a_steady_sawtooth_is_not():
    # the first trigger takes one file, the next all that landed meanwhile
    steady = [1, 2, 3, 4, 5, 6, 6, 7, 8, 9, 10, 11, 12, 13, 9, 10, 11, 12, 13, 14]
    assert not check.backlog_grows(steady)
    assert not check.backlog_grows([1, 1, 1, 1, 1])
    growing = [1, 2, 3, 4, 5, 6, 2, 3, 4, 5, 6, 7, 8, 9, 10, 3, 4, 5]
    assert check.backlog_grows(growing)
    assert check.backlog_grows(list(range(1, 17)))
