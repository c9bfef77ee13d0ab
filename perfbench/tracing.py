"""Traced reps: layer spans from pass-through wrappers, Spark stage metrics
from the event log, and the fold that joins the two into per-layer numbers.

Spans. The wrappers replace the layer functions that the entry points look
up by module attribute (``mine_templates``, ``route_to_sinks``,
``fit_isolation_forest``, ...). Each call records a span (name, start, end,
parent, run id) and sets a Spark job group named after the layer, so the
Spark jobs it triggers carry the layer's name. An *eager* layer does its
work inside the call, and its span is the call. A *lazy* layer only builds
a plan whose jobs run later; its span is the plan build, and its job group
stays set until the next layer call or the end of the run, so the jobs the
entry point runs right after it carry its name.

Attribution. Time inside an eager span is that layer's. A stage run outside
every eager span is charged to the layer whose Python UDF it ran (below), or
else to the lazy layer whose job group it carries; a stage in the ``run``
group with no layer UDF is charged to nobody. Whatever part of the run span
no span and no charged stage covers (driver work between jobs, scheduling
gaps) is ``trace.unattributed_frac``.

Stages. Spark's own ``EventLoggingListener`` is attached to the running
context around a traced rep only, writing an uncompressed, non-rolling file
that a stdlib JSON parse reads. A stage is told apart by the plan operators
whose SQL metrics it updated, never by call site (a write's call site is
``parquet at NativeMethodAccessorImpl.java:0``). A write operator
(``InsertIntoHadoopFsRelationCommand``/``WriteFiles``) marks a write stage.
The UDF names in the plan strings of the Python operators it ran
(``MapInPandas``, ``ArrowEvalPython``, ``FlatMapGroupsInPandas``, ...) say
whose Python code a stage ran: ``_fused`` is the fused extract+match stage,
``_match_id`` the match UDF, ``_score`` the anomaly scorer. Any other stage
is JVM work or shuffle.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import re
import time
from dataclasses import dataclass, field

# (module, attribute, layer, eager) for every layer call the two entry
# points make. ``enrich`` is not wrapped: it is fused into the extract_parse
# stage and has no stage of its own.
LAYER_CALLS = [
    ("logai_spark.pipeline", "mine_templates", "mine", True),
    ("logai_spark.pipeline", "extract_parse", "fused", False),
    ("logai_spark.pipeline", "route_to_sinks", "route", True),
    ("logai_spark.pipeline", "counter_vector", "aggregate", False),
    ("logai_spark.pipeline", "verify_routed_write", "verify", True),
    ("logai_spark.parse.distributed", "mine_templates", "mine", True),
    ("logai_spark.parse.distributed", "match_templates", "match", False),
    ("logai_spark.plans.applications", "counter_vector", "aggregate", False),
    ("logai_spark.plans.applications", "fit_isolation_forest", "anomaly.fit", True),
    ("logai_spark.plans.applications", "score_with_model", "anomaly.score", False),
    # the benchmark's own Spark-free audit of the written output
    ("perfbench.workloads", "check_routed_output", "check", True),
]

# Python UDF name in a stage's plan -> the layer whose code it is
UDF_LAYER = {"_fused": "fused", "_match_id": "match", "_score": "anomaly.score"}

_PY_OPS = ("InPandas", "InArrow", "EvalPython")
_UDF_NAME = re.compile(r"\b(_[A-Za-z]\w*)\(")


@dataclass
class Span:
    name: str
    start: float
    run: str
    parent: int | None
    id: int
    end: float | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans in memory and sets the Spark job group per layer."""

    sc: object  # pyspark.SparkContext
    spans: list[Span] = field(default_factory=list)
    captured: dict = field(default_factory=dict)
    _stack: list[Span] = field(default_factory=list)
    _restore: list = field(default_factory=list)

    def _open(self, name: str) -> Span:
        parent = self._stack[-1]
        s = Span(name, time.time(), parent.run, parent.id, len(self.spans))
        self.spans.append(s)
        return s

    def _set_group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def begin_run(self, run_id: str) -> None:
        s = Span("run", time.time(), run_id, None, len(self.spans))
        self.spans.append(s)
        self._stack = [s]
        self._set_group("run")

    def end_run(self) -> Span:
        run = self._stack.pop()
        run.end = time.time()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        return run

    def _wrap(self, fn, layer: str, eager: bool):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = tracer._open(layer)
            tracer._set_group(layer)
            if not eager:
                try:
                    return fn(*args, **kwargs)
                finally:
                    span.end = time.time()  # the group stays set, see above
            tracer._stack.append(span)
            try:
                return tracer._call(layer, fn, args, kwargs)
            finally:
                tracer._stack.pop()
                span.end = time.time()
                tracer._set_group(tracer._stack[-1].name)

        return wrapper

    def _call(self, layer: str, fn, args, kwargs):
        if layer != "mine":
            return fn(*args, **kwargs)
        # the mining pass measures its distinct lines in the same job; ask
        # for the stats and hand the caller what it asked for
        wants_stats = kwargs.pop("return_stats", False)
        templates, stats = fn(*args, return_stats=True, **kwargs)
        self.captured["mine"] = {
            "templates": templates,
            "distinct_lines": stats["distinct_lines"],
        }
        return (templates, stats) if wants_stats else templates

    def install(self) -> None:
        for mod_name, attr, layer, eager in LAYER_CALLS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._restore.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(orig, layer, eager))

    def uninstall(self) -> None:
        while self._restore:
            mod, attr, orig = self._restore.pop()
            setattr(mod, attr, orig)


class EventLog:
    """Spark's event log, attached to a live context for one traced rep."""

    def __init__(self, sc, log_dir: str):
        self.sc = sc
        self.log_dir = log_dir
        os.makedirs(log_dir, exist_ok=True)
        self._listener = None

    def start(self, name: str) -> None:
        jvm, jsc = self.sc._jvm, self.sc._jsc.sc()
        conf = (
            jsc.conf()
            .clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
            .set("spark.eventLog.overwrite", "true")
        )
        self._path = os.path.join(self.log_dir, name)
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            name,
            jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + os.path.abspath(self.log_dir)),
            conf,
            self.sc._jsc.hadoopConfiguration(),
        )
        self._listener.start()
        jsc.addSparkListener(self._listener)

    def stop(self) -> str:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(self._listener)
        self._listener.stop()
        self._listener = None
        return self._path


def _acc(stage: dict, name: str) -> float:
    return float(stage["acc"].get("internal.metrics." + name, 0))


def parse_event_log(path: str) -> dict:
    """Jobs, stages and task counts from an uncompressed event log file."""
    plan_metric: dict[int, tuple[str, str]] = {}  # accumulator id -> operator
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    groups: dict[int, str | None] = {}
    tasks = failed_tasks = 0

    def walk(node: dict) -> None:
        for m in node.get("metrics", []):
            plan_metric[m["accumulatorId"]] = (node["nodeName"], node["simpleString"])
        for c in node.get("children", []):
            walk(c)

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if "sparkPlanInfo" in e:
                walk(e["sparkPlanInfo"])
            elif ev == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {
                    "start": e["Submission Time"] / 1000,
                    "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                }
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
            elif ev == "SparkListenerStageSubmitted":
                groups[e["Stage Info"]["Stage ID"]] = (e.get("Properties") or {}).get(
                    "spark.jobGroup.id"
                )
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                stages[si["Stage ID"]] = {
                    "start": si["Submission Time"] / 1000,
                    "end": si["Completion Time"] / 1000,
                    "acc": {a["Name"]: a["Value"] for a in si["Accumulables"] if "Name" in a},
                    "acc_ids": [
                        a["ID"] for a in si["Accumulables"] if str(a.get("Value")) not in ("0", "None")
                    ],
                }
            elif ev == "SparkListenerTaskEnd":
                tasks += 1
                failed_tasks += e["Task End Reason"]["Reason"] != "Success"

    for sid, st in stages.items():
        st["group"] = groups.get(sid)
        ops = {plan_metric[i] for i in st.pop("acc_ids") if i in plan_metric}
        st["write"] = any("InsertInto" in n or n.startswith("WriteFiles") for n, _ in ops)
        st["udfs"] = sorted(
            {u for n, s in ops if any(p in n for p in _PY_OPS) for u in _UDF_NAME.findall(s)}
        )
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed_tasks}


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def fold(spans: list[Span], run: Span, events: dict) -> dict:
    """Per-layer numbers of one traced rep (see Attribution above)."""
    eager = {layer for *_, layer, is_eager in LAYER_CALLS if is_eager}
    charged: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent == run.id:
            charged.setdefault(s.name, []).append((s.start, s.end))
    stages = list(events["stages"].values())
    for st in stages:
        if st["group"] in eager:
            continue  # inside that layer's span
        layers = [UDF_LAYER[u] for u in st["udfs"] if u in UDF_LAYER]
        layer = layers[0] if layers else st["group"] if st["group"] in charged else None
        if layer is not None:
            start, end = max(st["start"], run.start), min(st["end"], run.end)
            charged.setdefault(layer, []).append((start, max(start, end)))
    layer_s = {name: _union_s(iv) for name, iv in charged.items()}
    covered = _union_s([iv for ivs in charged.values() for iv in ivs])

    def stage_sum(pred, fn) -> float:
        return sum(fn(st) for st in stages if pred(st))

    def wall(st):
        return st["end"] - st["start"]

    def shuffle_mb(st):
        return _acc(st, "shuffle.write.bytesWritten") / 1e6

    def has_udf(name):
        return lambda st: name in st["udfs"]

    def in_group(name):
        return lambda st: st["group"] == name

    fit_jobs = [
        (j["start"], j["end"]) for j in events["jobs"].values() if j["group"] == "anomaly.fit"
    ]
    fused = has_udf("_fused")
    return {
        "mine.s": layer_s.get("mine", 0.0),
        "match.s": stage_sum(has_udf("_match_id"), wall),
        "match.passes": stage_sum(has_udf("_match_id"), lambda st: 1),
        "fused.s": stage_sum(fused, wall),
        "fused.jvm_cpu_s": stage_sum(fused, lambda st: _acc(st, "executorCpuTime") / 1e9),
        "fused.python_wait_s": stage_sum(
            fused,
            lambda st: _acc(st, "executorRunTime") / 1e3 - _acc(st, "executorCpuTime") / 1e9,
        ),
        "route.s": layer_s.get("route", 0.0),
        "route.write_s": stage_sum(lambda st: in_group("route")(st) and st["write"], wall),
        "route.shuffle_write_mb": stage_sum(in_group("route"), shuffle_mb),
        "route.spill_mb": stage_sum(
            in_group("route"), lambda st: _acc(st, "diskBytesSpilled") / 1e6
        ),
        "aggregate.s": layer_s.get("aggregate", 0.0),
        "aggregate.shuffle_write_mb": stage_sum(in_group("aggregate"), shuffle_mb),
        "verify.s": layer_s.get("verify", 0.0),
        "check.s": layer_s.get("check", 0.0),
        "anomaly.fit_s": max(layer_s.get("anomaly.fit", 0.0) - _union_s(fit_jobs), 0.0),
        "anomaly.score_s": stage_sum(has_udf("_score"), wall),
        "spark.jobs": len(events["jobs"]),
        "spark.stages": len(stages),
        "spark.tasks": events["tasks"],
        "spark.failed_tasks": events["failed_tasks"],
        "spark.gc_s": stage_sum(lambda st: True, lambda st: _acc(st, "jvmGCTime") / 1e3),
        "spark.executor_run_s": stage_sum(
            lambda st: True, lambda st: _acc(st, "executorRunTime") / 1e3
        ),
        "trace.unattributed_frac": 1.0 - covered / run.seconds,
    }
