"""Layer-attributed benchmark of the parse -> enrich -> route -> aggregate
pipeline and the LogAI anomaly workflow.

Run from the repository root:

    python3 perfbench/run.py --workload pages_web --seed 1 --seconds 15 --trace 0

One process measures one workload. It starts a ``local[N]`` session with N
the process's CPU affinity, generates the workload's input from ``--seed``
with ``sources.webpages.synth_webpages``, caches it, and then drives the
program through its public entry points in a closed loop with one client:
each rep is one complete run whose outputs are checked, and the next rep
starts when it ends. Reps go on until ``--seconds`` have passed.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json. ``--trace 1``
alternates untraced reps with traced ones (layer spans plus Spark's event
log, see tracing.py), times the Spark-free kernels (kernels.py), and reports
the per-layer metrics. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the full record (host
fingerprint, every rep, every span) goes to ``perfbench/.results/``.

``setup_s`` is the time from process start until the first timed rep can
begin: the session start, the input build (generate, cache, count) and
``WARMUP_REPS`` untimed warm-up reps. Every file
the run writes stays under ``perfbench/`` and is removed at exit, except the
record.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:  # run as a script, the package's parent is not on the path
    sys.path.insert(0, ROOT)

from perfbench import host, kernels  # noqa: E402
from perfbench.tracing import EventLog, Tracer, fold, parse_event_log  # noqa: E402
from perfbench.workloads import WORKLOADS, CheckFailed, build_input, run_once  # noqa: E402

WARMUP_REPS = 2
DRIVER_MEMORY = "2g"


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK")


def start_session(work: str):
    """A host-sized session whose scratch files stay under ``work``."""
    from logai_spark.session import get_spark

    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # the JVM that builds the driver's command
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    return get_spark(
        "perfbench",
        cpus=len(os.sched_getaffinity(0)),
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": jvm_opts,
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop the context, then the JVM and its Python workers, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # a later SparkContext in this process would otherwise reuse the dead gateway
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    """Runs and records the reps of one workload in one session."""

    def __init__(self, spark, workload, work: str):
        self.spark = spark
        self.w = workload
        self.out = os.path.join(work, "out")
        self.tracer = Tracer(spark.sparkContext)
        self.evlog = EventLog(spark.sparkContext, os.path.join(work, "eventlog"))
        self.reps: list[dict] = []
        self.digest: str | None = None

    def rep(self, inp, kind: str) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        traced = kind == "traced"
        run_id = f"{kind}-{len(self.reps)}"
        if traced:
            self.tracer.captured.clear()
            self.tracer.install()
            self.evlog.start(run_id)
            self.tracer.begin_run(run_id)
        rec: dict = {"kind": kind, "ok": False}
        ticks0, cpu0 = host.cpu_ticks(), host.tree_cpu_s()
        t0 = time.perf_counter()
        try:
            summary = run_once(self.spark, self.w, inp, self.out)
            if self.digest is None:
                self.digest = summary["digest"]
            elif summary["digest"] != self.digest:
                raise CheckFailed(f"output digest {summary['digest']} != first rep's {self.digest}")
            rec.update(ok=True, summary=summary)
        except Exception as e:  # noqa: BLE001 - a failed rep is counted, the loop goes on
            traceback.print_exc()
            rec["error"] = repr(e)
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = host.tree_cpu_s() - cpu0
            rec["steal_frac"] = host.steal_frac(ticks0, host.cpu_ticks())
            if traced:
                run = self.tracer.end_run()
                log = self.evlog.stop()
                self.tracer.uninstall()
        if traced and rec["ok"]:
            spans = [s for s in self.tracer.spans if s.run == run_id]
            layers = fold(spans, run, parse_event_log(log))
            mine = self.tracer.captured.get("mine", {})
            summary = rec["summary"]
            layers.update(
                {
                    "mine.distinct_lines": mine.get("distinct_lines", 0),
                    "mine.templates": len(mine.get("templates", [])),
                    "route.files": summary.get("files", 0),
                    "route.sink_skew": summary.get("sink_skew", 0.0),
                    "verify.files": summary.get("files", 0),
                }
            )
            rec["layers"] = layers
            os.remove(log)
        self.reps.append(rec)


def _median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def measure(spark, workload, seed: int, seconds: float, trace: bool, work: str):
    """Set up, run the closed loop for ``seconds``, and return (metrics,
    attempted, failed, record). ``metrics`` holds the end-to-end metrics, or
    with ``trace`` the per-layer ones."""
    runner = Runner(spark, workload, work)
    session_s = _process_age_s()
    inp = build_input(spark, workload, seed)
    build_s = _process_age_s() - session_s
    for _ in range(WARMUP_REPS):
        runner.rep(inp, "warmup")
    setup_s = _process_age_s()

    deadline = time.perf_counter() + seconds
    while True:
        n_timed = sum(r["kind"] != "warmup" for r in runner.reps)
        kind = "traced" if trace and n_timed % 2 else "timed"
        runner.rep(inp, kind)
        if time.perf_counter() >= deadline and (not trace or kind == "traced"):
            break

    reps = runner.reps
    timed = [r for r in reps if r["kind"] == "timed"]
    good = [r for r in timed if r["ok"]] or timed
    failed = sum(not r["ok"] for r in reps)
    unmatched = _median(r["summary"]["unmatched"] for r in reps if r["ok"])
    if not trace:
        metrics = {
            "wall_s": _median(r["wall_s"] for r in good),
            "cpu_s": _median(r["cpu_s"] for r in good),
            "setup_s": setup_s,
            "ok_frac": 1.0 - failed / len(reps),
            "matched_frac": 1.0 - unmatched / inp.lines,
        }
    else:
        traced = [r for r in reps if r["kind"] == "traced" and r["ok"]]
        metrics = {
            name: _median(r["layers"][name] for r in traced)
            for name in (traced[0]["layers"] if traced else [])
        }
        metrics["trace.overhead_frac"] = (
            _median(r["wall_s"] for r in traced) / _median(r["wall_s"] for r in good) - 1.0
        )
        metrics["host.steal_frac"] = _median(r["steal_frac"] for r in reps if r["kind"] != "warmup")
        metrics["mem.peak_rss_mb"] = host.tree_peak_rss_mb()
        metrics.update(kernel_metrics(workload, inp, runner.tracer.captured))
    inp.df.unpersist()
    record = {
        "fingerprint": host.fingerprint(work),
        "session_s": session_s,
        "input_build_s": build_s,
        "setup_s": setup_s,
        "lines": inp.lines,
        "reps": reps,
        "spans": [vars(s) for s in runner.tracer.spans],
    }
    return metrics, len(reps), failed, record


def kernel_metrics(workload, inp, captured: dict) -> dict:
    """Spark-free kernel timings over the workload's own pages and lines,
    matched against the templates the traced rep mined."""
    if workload.kind == "pages":
        rows = inp.df.select("html", "text").collect()
        lines = [ln for r in rows for ln in r["text"].split("\n") if ln]
        out = {"extract.us_per_page": kernels.extract_us_per_page([r["html"] for r in rows])}
    else:
        lines = [r["logline"] for r in inp.df.select("logline").collect()]
        out = {"extract.us_per_page": 0.0}
    out.update(kernels.match_kernel(captured["mine"]["templates"], lines))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    import logai_spark  # noqa: F401 - fails here when the program is absent

    workload = WORKLOADS[args.workload]
    work = os.path.join(HERE, ".work", f"{workload.name}-{os.getpid()}")
    spark = None
    try:
        spark = start_session(work)
        metrics, attempted, failed, record = measure(
            spark, workload, args.seed, args.seconds, bool(args.trace), work
        )
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in units.items()},
    }
    results = os.path.join(HERE, ".results")
    os.makedirs(results, exist_ok=True)
    name = f"{workload.name}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump({"args": vars(args), "result": result, **record}, f, indent=1, default=str)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
