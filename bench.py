#!/usr/bin/env python3
"""Headline benchmark: the ``sql_pipeline`` workload of ``perfbench``.

    python bench.py

Runs ``perfbench/run.py --workload sql_pipeline --seed 1 --seconds 6`` (the
23 headline registry queries on seeded sf0.01 tables, each timed as a noop
write), passes its output through, then prints one JSON line:
``{"metric", "value": wall_s, "unit": "sec", "queries": {name: median s}}``.
All timing is perfbench's. Exits with perfbench's return code, or 1 when the
run printed no result line or its results failed verification.
"""

import json
import os
import subprocess
import sys

COMMAND = ["perfbench/run.py", "--workload", "sql_pipeline", "--seed", "1", "--seconds", "6"]
METRIC = "sql_pipeline wall_s (perfbench)"
MEDIANS = "op medians: "


def summary(returncode: int, lines: list[str]) -> tuple[str | None, int]:
    """The last line for one perfbench run's stdout, and the exit code.

    There is no line unless the run exited 0, ended with its result JSON,
    verified every result and reported per-query medians.
    """
    if returncode != 0:
        return None, returncode
    text = [line.strip() for line in lines if line.strip()]
    try:
        result = json.loads(text[-1])
        wall_s = result["metrics"]["wall_s"]["value"]
    except (IndexError, ValueError, TypeError, KeyError):
        return None, 1
    medians = [line[len(MEDIANS):] for line in text if line.startswith(MEDIANS)]
    if result.get("correct") is not True or not medians:
        return None, 1
    queries = {k: float(v) for k, v in (item.split("=") for item in medians[-1].split(", "))}
    return json.dumps({"metric": METRIC, "value": wall_s, "unit": "sec", "queries": queries}), 0


def main() -> int:
    root = os.path.dirname(os.path.abspath(__file__))
    lines = []
    with subprocess.Popen([sys.executable, *COMMAND], cwd=root, stdout=subprocess.PIPE, text=True) as proc:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            lines.append(line)
    line, code = summary(proc.returncode, lines)
    if line is not None:
        print(line, flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
