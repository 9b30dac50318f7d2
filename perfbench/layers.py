"""Per-layer metrics of a traced run, from Spark's REST API and the spans.

Only operations of traced passes are counted. Per-pass figures are totals
over the traced passes divided by their number.
"""

from __future__ import annotations

import re
from collections import defaultdict
from statistics import median

from harness import Span, covered_time, metric_value, rest_time, self_times
from sql_pipeline import HEADLINE

#: the per-query metric suffixes of ``zarr_search``
SEARCH_QUERIES = ("full", "proj", "range", "group", "like")

_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow|Arrow(?:Eval|Window)")
MB = 1 << 20


def metric_names() -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better), in reporting order."""
    zds = "sources.zarr_datasource"
    names = [("engine.build_session_s", "s", "lower")]
    names += [
        ("sources.zarrv3.open_group_s", "s", "lower"),
        *[(f"sources.zarrv3.read_range_s.{c}", "s", "lower") for c in ("bbox", "collection", "date")],
        ("sources.zarrv3.chunk_bytes", "B", "lower"),
        ("sources.zarrv3.decode_mb_per_s", "MB/s", "higher"),
        ("sources.zarrv3.encode_s", "s", "lower"),
    ]
    for q in SEARCH_QUERIES:
        names += [
            (f"{zds}.plan_s.{q}", "s", "lower"),
            (f"{zds}.partitions.{q}", "count", "lower"),
            (f"{zds}.chunks_read_frac.{q}", "frac", "lower"),
        ]
    names += [
        (f"{zds}.rows_to_jvm", "count", "lower"),
        (f"{zds}.mb_to_jvm", "MB", "lower"),
        (f"{zds}.scan_task_s", "s", "lower"),
        (f"{zds}.writer_commit_s", "s", "lower"),
        ("sources.zarr_sink.write_s", "s", "lower"),
        ("sources.zarr_sink.append_s", "s", "lower"),
        ("sources.zarr_sink.jobs", "count", "lower"),
        ("sources.zarr_sink.shuffle_write_mb", "MB", "lower"),
        ("sources.zarr_sink.python_run_s", "s", "lower"),
        ("sources.zarr_sink.bytes_written", "B", "lower"),
        ("sources.zarr_sink.files_written", "count", "lower"),
        ("plans.build_s", "s", "lower"),
        *[(f"plans.build_s.{q}", "s", "lower") for q in HEADLINE],
        ("plans.build_jobs", "count", "lower"),
        ("plans.build_py4j_calls", "count", "lower"),
        ("jvm.exec_s", "s", "lower"),
        *[(f"jvm.exec_s.{q}", "s", "lower") for q in HEADLINE],
        ("jvm.executor_run_s", "s", "lower"),
        ("jvm.executor_cpu_s", "s", "lower"),
        ("jvm.gc_s", "s", "lower"),
        ("jvm.tasks", "count", "lower"),
        ("jvm.stages", "count", "lower"),
        ("jvm.shuffle_read_mb", "MB", "lower"),
        ("jvm.shuffle_write_mb", "MB", "lower"),
        ("jvm.shuffle_fetch_wait_s", "s", "lower"),
        ("jvm.spill_mb", "MB", "lower"),
        ("operators.python_run_s", "s", "lower"),
        ("operators.python_start_s", "s", "lower"),
        ("operators.python_mb_in", "MB", "lower"),
        ("operators.python_mb_out", "MB", "lower"),
        ("trace.overhead_s", "s", "lower"),
    ]
    return names


class LayerView:
    """Jobs, stages and SQL executions of the traced operations."""

    def __init__(self, bench, rest):
        self.bench = bench
        traced = [r for r in bench.results if r.traced]
        #: operations of the timed passes, and extra ones run after them
        self.ops = [r for r in traced if r.pass_no >= 0]
        self.extra = [r for r in traced if r.pass_no < 0]
        self.by_id = {r.op_id: r for r in traced}
        self.passes = max(1, len({r.pass_no for r in self.ops}))
        jobs = rest.jobs()
        stages = {s["stageId"]: s for s in rest.stages() if s.get("status") == "COMPLETE"}
        # op id -> phase -> [job]
        self.jobs: dict[str, dict[str, list[dict]]] = defaultdict(lambda: defaultdict(list))
        self.stages: dict[str, dict[str, list[dict]]] = defaultdict(lambda: defaultdict(list))
        for job in jobs:
            op_id, _, phase = (job.get("jobGroup") or "").partition(":")
            if op_id not in self.by_id or "completionTime" not in job:
                continue
            self.jobs[op_id][phase].append(job)
            self.stages[op_id][phase].extend(
                stages[s] for s in job["stageIds"] if s in stages
            )
        self.nodes: dict[str, list[dict]] = defaultdict(list)
        for ex in rest.sql():
            op_id = (ex.get("description") or "").split(":", 1)[0]
            if op_id in self.by_id:
                self.nodes[op_id].extend(ex.get("nodes", []))

    # -- helpers -----------------------------------------------------------
    def _ops(self, name: str):
        return [r for r in self.ops if r.name == name]

    def _job_wall(self, op_id: str, phase: str) -> float:
        spans = [(rest_time(j["submissionTime"]), rest_time(j["completionTime"]))
                 for j in self.jobs[op_id][phase]]
        return covered_time(spans, float("-inf"), float("inf"))

    def _unique_stages(self, op_ids, phases=("build", "exec")) -> list[dict]:
        seen = {}
        for op_id in op_ids:
            for ph in phases:
                for s in self.stages[op_id][ph]:
                    seen[(s["stageId"], s["attemptId"])] = s
        return list(seen.values())

    def _node_metric(self, op_ids, node_re, metric: str) -> float:
        total = 0.0
        for op_id in op_ids:
            for node in self.nodes[op_id]:
                if node_re.search(node["nodeName"]):
                    for m in node.get("metrics", []):
                        if m["name"] == metric:
                            total += metric_value(m["value"])
        return total

    # -- layers ------------------------------------------------------------
    def generic(self) -> dict:
        out = {}
        ids = [r.op_id for r in self.ops]
        per_pass = defaultdict(float)
        for r in self.ops:
            per_pass[r.pass_no] += r.build_s
        out["plans.build_s"] = median(per_pass.values()) if per_pass else 0.0
        for q in HEADLINE:
            runs = self._ops(q)
            out[f"plans.build_s.{q}"] = median(r.build_s for r in runs) if runs else 0.0
            out[f"jvm.exec_s.{q}"] = median(self._job_wall(r.op_id, "exec") for r in runs) if runs else 0.0
        out["plans.build_jobs"] = sum(len(self.jobs[i]["build"]) for i in ids) / self.passes
        out["plans.build_py4j_calls"] = self.bench.py4j_calls["build"] / self.passes
        out["jvm.exec_s"] = sum(self._job_wall(i, "exec") for i in ids) / self.passes
        stages = self._unique_stages(ids)
        tot = lambda key: sum(s.get(key, 0) for s in stages) / self.passes  # noqa: E731
        out["jvm.executor_run_s"] = tot("executorRunTime") / 1e3
        out["jvm.executor_cpu_s"] = tot("executorCpuTime") / 1e9
        out["jvm.gc_s"] = tot("jvmGcTime") / 1e3
        out["jvm.tasks"] = tot("numCompleteTasks")
        out["jvm.stages"] = len(stages) / self.passes
        out["jvm.shuffle_read_mb"] = tot("shuffleReadBytes") / MB
        out["jvm.shuffle_write_mb"] = tot("shuffleWriteBytes") / MB
        out["jvm.shuffle_fetch_wait_s"] = tot("shuffleFetchWaitTime") / 1e3
        out["jvm.spill_mb"] = tot("diskBytesSpilled") / MB
        node = lambda m: self._node_metric(ids, _PYTHON_NODE, m) / self.passes  # noqa: E731
        out["operators.python_run_s"] = node("time to run Python workers")
        out["operators.python_start_s"] = node("time to start Python workers") + node(
            "time to initialize Python workers"
        )
        out["operators.python_mb_in"] = node("data sent to Python workers") / MB
        out["operators.python_mb_out"] = node("data returned from Python workers") / MB
        return out

    def scan_metrics(self) -> dict:
        """``zarr_search``: what the zarr scan hands to the JVM, and its task time."""
        ids = [r.op_id for r in self.ops]
        scan = re.compile(r"^BatchScan zarr")
        leaf = [s for s in self._unique_stages(ids, ("exec",)) if not s.get("shuffleReadBytes")]
        return {
            "sources.zarr_datasource.rows_to_jvm": self._node_metric(ids, scan, "number of output rows") / self.passes,
            "sources.zarr_datasource.mb_to_jvm": self._node_metric(ids, scan, "data returned from Python workers") / MB / self.passes,
            "sources.zarr_datasource.scan_task_s": sum(s["executorRunTime"] for s in leaf) / 1e3 / self.passes,
        }

    def sink_metrics(self) -> dict:
        """The distributed sink and the ``ZarrWriter`` commit, from the timed
        ``zarr_ingest`` passes or the extra writes of another workload."""
        ops = self.ops + self.extra
        writes = [r for r in ops if r.name == "write_distributed"]
        appends = [r for r in ops if r.name.startswith("append")]
        formats = [r for r in ops if r.name == "format_write"]
        per_write = lambda f: median(f(r.op_id) for r in writes) if writes else 0.0  # noqa: E731
        flat = re.compile(r"FlatMapGroupsInPandas")
        return {
            "sources.zarr_sink.write_s": median(r.latency_s for r in writes) if writes else 0.0,
            "sources.zarr_sink.append_s": median(r.latency_s for r in appends) if appends else 0.0,
            "sources.zarr_sink.jobs": per_write(lambda i: len(self.jobs[i]["exec"])),
            "sources.zarr_sink.shuffle_write_mb": per_write(
                lambda i: sum(s["shuffleWriteBytes"] for s in self._unique_stages([i])) / MB
            ),
            "sources.zarr_sink.python_run_s": per_write(
                lambda i: self._node_metric([i], flat, "time to run Python workers")
            ),
            "sources.zarr_datasource.writer_commit_s": median(
                r.latency_s - r.build_s - self._job_wall(r.op_id, "exec") for r in formats
            ) if formats else 0.0,
        }

    # -- spans ---------------------------------------------------------------
    def add_job_spans(self, tracer) -> None:
        """One child span per Spark job, under the plan or execute span of its op."""
        for r in self.ops + self.extra:
            for phase, parent in (("build", r.spans.get("plan")), ("exec", r.spans.get("execute"))):
                for j in self.jobs[r.op_id][phase]:
                    tracer.add(
                        f"job:{j['jobId']}", rest_time(j["submissionTime"]),
                        rest_time(j["completionTime"]), parent, r.op_id, "jvm",
                    )

    def blocking_path(self, spans: list[Span]) -> dict:
        """Self time per layer along each traced op's blocking path.

        The op's plan and execute spans run one after the other and the op
        waits for every job inside them, so the self times of the op, plan,
        execute and job spans add up to the op's wall time (its verify span,
        outside the timed region, is left out); the residual is bookkeeping
        between the perf counter and the span clock.
        """
        selfs = self_times(spans)
        children = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                children[s.parent].append(s)
        per_layer = defaultdict(float)
        residuals = []
        for r in self.ops:
            root = spans[r.spans["op"]]
            path = selfs[root.id]
            for key in ("plan", "execute"):
                sid = r.spans.get(key)
                if sid is None:
                    continue
                s = spans[sid]
                per_layer[s.layer] += selfs[sid]
                jobs = covered_time([(c.start, c.end) for c in children[sid]], s.start, s.end)
                per_layer["jvm"] += jobs
                path += selfs[sid] + jobs
            per_layer["bench"] += selfs[root.id]
            residuals.append(abs(r.latency_s - path))
        return {
            "self_s_per_pass": {k: v / self.passes for k, v in per_layer.items()},
            "max_residual_s": max(residuals) if residuals else 0.0,
        }
