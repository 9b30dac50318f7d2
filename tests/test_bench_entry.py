"""The ``bench.py`` contract, checked on canned perfbench output (no Spark).

``bench.py`` runs the perfbench ``sql_pipeline`` workload and ends with one
JSON line ``{"metric", "value", "unit", "queries"}``; a failed run prints
no such line and exits nonzero.
"""

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
try:
    import bench
    from sql_pipeline import HEADLINE
finally:
    del sys.path[:2]


def perfbench_stdout(correct=True, medians=True) -> list[str]:
    """What ``perfbench/run.py --workload sql_pipeline`` prints, shortened."""
    result = {
        "correct": correct,
        "attempted": 69,
        "failed": 0 if correct else 1,
        "metrics": {"wall_s": {"value": 9.84, "unit": "s"}, "op_p50_s": {"value": 0.35, "unit": "s"}},
    }
    lines = [
        "perfbench sql_pipeline seed=1 trace=0: 3 passes, 69 operations, closed loop with 1 client",
        "  wall_s                   9.84 s",
        "  setup parts: session_s=7.100, inputs_s=20.000, register_s=0.100, warmup_s=11.000",
    ]
    if medians:
        lines.append("  op medians: " + ", ".join(f"{q}={0.1 + i / 100:.3f}" for i, q in enumerate(sorted(HEADLINE))))
    lines.append("  host: nproc=4 load1 1.0 -> 1.2, steal 0.0% -> 0.0%")
    lines.append(json.dumps(result))
    return [line + "\n" for line in lines]


def test_last_line_shape():
    line, code = bench.summary(0, perfbench_stdout())
    assert code == 0
    out = json.loads(line)
    assert set(out) == {"metric", "value", "unit", "queries"}
    assert out["metric"] == "sql_pipeline wall_s (perfbench)"
    assert out["value"] == 9.84 and out["unit"] == "sec"
    assert sorted(out["queries"]) == sorted(HEADLINE) and len(HEADLINE) == 23
    assert out["queries"][sorted(HEADLINE)[1]] == pytest.approx(0.11)


@pytest.mark.parametrize(
    "returncode,lines,expect",
    [
        (2, perfbench_stdout(), 2),
        (-15, [], -15),
        (0, perfbench_stdout()[:-1], 1),  # no result line
        (0, [], 1),
        (0, perfbench_stdout() + ["Traceback (most recent call last):\n"], 1),
        (0, perfbench_stdout(correct=False), 1),
        (0, perfbench_stdout(medians=False), 1),
    ],
    ids=["exit-2", "killed", "no-json", "no-output", "trailing-text", "incorrect", "no-medians"],
)
def test_failed_run_exits_nonzero(returncode, lines, expect):
    assert bench.summary(returncode, lines) == (None, expect)


def test_entry_has_no_timing_or_knobs():
    with open(os.path.join(ROOT, "bench.py")) as fh:
        source = fh.read()
    assert len(source.splitlines()) <= 60
    for banned in ("perf_counter", "time.time", "os.environ", "getenv", "argparse"):
        assert banned not in source, banned
    assert bench.COMMAND[0] == "perfbench/run.py"
    assert os.path.isfile(os.path.join(ROOT, bench.COMMAND[0]))
