"""Session, closed-loop timing, tracing and plan checks shared by the workloads.

Everything here observes the program from outside: it times calls into the
package's public functions, samples ``/proc``, and reads Spark's own status
store and (traced runs only) the localhost ``/api/v1`` REST API.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.request
from collections import Counter
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# host stamp and memory
# ---------------------------------------------------------------------------


def nproc() -> int:
    """CPUs this process may run on (what ``env -u OMP_NUM_THREADS nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_pct(window_s: float = 0.25) -> float:
    """Share of CPU time stolen by the hypervisor over a short window."""
    a = _cpu_times()
    time.sleep(window_s)
    b = _cpu_times()
    d = [y - x for x, y in zip(a, b)]
    total = sum(d[:8]) or 1
    return 100.0 * (d[7] if len(d) > 7 else 0) / total


def host_stamp() -> dict:
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    return {"nproc": nproc(), "load1": load1, "steal_pct": round(steal_pct(), 2)}


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and every process below it."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's RSS while ``active``; keeps the peak."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self.active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self.active:
                self.sample()

    def sample(self) -> None:
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    layer: str = "bench"
    id: int = 0


@dataclass
class Tracer:
    """In-memory spans; ``enabled=False`` keeps the call sites and records nothing."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)

    def begin(self, name: str, op: str | None, layer: str, parent: int | None = None) -> int | None:
        if not self.enabled:
            return None
        sid = len(self.spans)
        self.spans.append(Span(name, time.time(), parent=parent, op=op, layer=layer, id=sid))
        return sid

    def end(self, sid: int | None) -> None:
        if sid is not None:
            self.spans[sid].end = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None, op: str | None, layer: str) -> None:
        if self.enabled:
            self.spans.append(
                Span(name, start, end, parent=parent, op=op, layer=layer, id=len(self.spans))
            )


def covered_time(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return covered


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {
        s.id: (s.end - s.start)
        - covered_time([(c.start, c.end) for c in children.get(s.id, [])], s.start, s.end)
        for s in spans
    }


# ---------------------------------------------------------------------------
# Spark session and plan inspection
# ---------------------------------------------------------------------------


def build_session(work: str, trace: bool):
    """A ``local[N]`` session through the package's own builder.

    Spark's scratch space and the warehouse stay under ``work``; the UI (and with it the REST API) is on only when tracing.
    """
    from zarr_datafusion_search_spark.engine import build_session as engine_session

    n = nproc()
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    conf = {
        "spark.driver.memory": "3g",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
        # the status store then records each execution's optimized logical
        # plan, which the pruning guard compares with the collected plan
        "spark.sql.ui.explainMode": "extended",
    }
    if trace:
        conf["spark.ui.port"] = "0"
    spark = engine_session(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


_OP_NAME = re.compile(r"^[\s:|+\-]*([A-Za-z][A-Za-z0-9_]*)")


def plan_operators(plan: str) -> Counter:
    """Operator names of a logical plan's tree string, with multiplicity."""
    ops: Counter = Counter()
    for line in plan.splitlines():
        m = _OP_NAME.match(line)
        if m:
            ops[m.group(1)] += 1
    return ops


def dropped_operators(collected: Counter, timed: Counter) -> list[str]:
    """Operators of the collected plan that the timed plan lacks."""
    return sorted(op for op, n in collected.items() if timed[op] < n)


def optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def executed_optimized_plans(spark) -> dict[str, str]:
    """Optimized logical plan of every finished SQL execution, by description."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out: dict[str, str] = {}
    for i in range(execs.size()):
        e = execs.apply(i)
        text = e.physicalPlanDescription()
        head, sep, rest = text.partition("== Optimized Logical Plan ==")
        if sep:
            out[e.description()] = rest.split("== Physical Plan ==", 1)[0]
    return out


# ---------------------------------------------------------------------------
# REST (traced runs)
# ---------------------------------------------------------------------------


class SparkRest:
    """Reads this application's jobs, stages and SQL executions from the UI."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def jobs(self) -> list[dict]:
        return self.get("/jobs")

    def stages(self) -> list[dict]:
        return self.get("/stages")

    def sql(self) -> list[dict]:
        return self.get("/sql?details=true&planDescription=false&offset=0&length=100000")


def rest_time(s: str) -> float:
    """Epoch seconds of a REST timestamp such as ``2026-01-01T10:00:00.123GMT``."""
    import datetime as dt

    t = dt.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
}
_METRIC = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def metric_value(text: str) -> float:
    """Total of a SQL metric string: bytes, seconds, or a plain count."""
    body = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _METRIC.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


# ---------------------------------------------------------------------------
# closed-loop runner
# ---------------------------------------------------------------------------


@dataclass
class OpResult:
    op_id: str
    name: str
    pass_no: int
    latency_s: float
    ok: bool
    traced: bool
    build_s: float = 0.0
    error: str = ""
    spans: dict = field(default_factory=dict)


class Bench:
    """Runs a workload's operations one at a time, in seeded order."""

    def __init__(self, spark, tracer: Tracer, rss: RssSampler):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.rss = rss
        self.results: list[OpResult] = []
        self.pass_s: dict[int, float] = {}
        self._next = 0
        self.py4j_calls: Counter = Counter()
        self._phase = "idle"
        self._counting = False

    # -- py4j call counting (traced runs) -----------------------------------
    def count_py4j(self) -> None:
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            if self._counting:
                self.py4j_calls[self._phase] += 1
            return send(*args, **kwargs)

        client.send_command = counted

    def op_id(self) -> str:
        self._next += 1
        return f"op{self._next}"

    def _group(self, op_id: str, phase: str, name: str) -> None:
        self._phase = phase
        self.sc.setJobGroup(f"{op_id}:{phase}", f"{op_id}:{phase} {name}")

    def run_op(self, op, pass_no: int, traced: bool) -> OpResult:
        """One timed operation: plan-build then execute, then its untimed check."""
        op_id = self.op_id()
        tr = self.tracer if traced else Tracer()
        spans = {"op": tr.begin(f"op:{op.name}", op_id, "bench")}
        ok, err, build_s = True, "", 0.0
        self._counting = traced
        t0 = time.perf_counter()
        try:
            self._group(op_id, "build", op.name)
            spans["plan"] = tr.begin("plan", op_id, "plans", spans["op"])
            built = op.build()
            tr.end(spans["plan"])
            build_s = time.perf_counter() - t0
            self._group(op_id, "exec", op.name)
            spans["execute"] = tr.begin("execute", op_id, "driver", spans["op"])
            out = op.execute(built)
            tr.end(spans["execute"])
        except Exception as exc:  # a failed operation is counted, not fatal
            ok, err, out = False, f"{type(exc).__name__}: {exc}", None
        latency = time.perf_counter() - t0
        self._counting, self._phase = False, "idle"
        if ok and hasattr(op, "check"):
            spans["verify"] = tr.begin("verify", op_id, "verify", spans["op"])
            ok, err = op.check(out)
            tr.end(spans["verify"])
        tr.end(spans["op"])
        res = OpResult(op_id, op.name, pass_no, latency, ok, traced, build_s, err, spans)
        self.results.append(res)
        return res

    def run(self, ops, rng, seconds: float, min_passes: int, start_pass=None) -> None:
        """Whole passes in seeded order until ``seconds`` have passed.

        When tracing, half the passes record spans (see ``traced_pass``), so
        a traced run also measures untraced passes in the same session.
        """
        self.rss.active = True
        t_end = time.perf_counter() + seconds
        p = 0
        while p < min_passes or time.perf_counter() < t_end:
            traced = self.tracer.enabled and traced_pass(p)
            if start_pass is not None:
                start_pass()
            order = [ops[i] for i in rng.permutation(len(ops))]
            self.pass_s[p] = sum(self.run_op(op, p, traced).latency_s for op in order)
            p += 1
        self.rss.active = False


def traced_pass(p: int) -> bool:
    """Traced runs alternate untraced and traced passes, starting untraced."""
    return p % 2 == 1


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1]."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files below ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files
