"""The repository's benchmark: one workload per process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones (``setup_s``, ``run_s``,
``unit_p50_s``); with ``--trace 1`` the run wraps the library calls in
spans, prints the per-layer metrics and writes every span to
``.perfbench/trace-<workload>-<seed>.json``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench"

#: One warm-up unit runs inside set-up: it takes the cold unit (two to three
#: times a warm one) out of the measurement. README.md gives the warm-up
#: curves, the input sizes, and why the time budget holds no more. A run
#: then measures as many whole units as fit in ``--seconds`` at ``unit_s``,
#: about a warm unit's time on a quiet 4-core host, and at least one: a
#: fixed sequence of units, whatever the program's speed.
WORKLOADS = {
    # 100k events a tick: the sf0.1 events table
    "pipeline_tick": {"warmup": 1, "unit_s": 10.0, "events_per_tick": 100_000},
    "llm_curation": {"warmup": 1, "unit_s": 10.0, "n_docs": 500},
}
#: --tiny: the smoke-test size
TINY = {"warmup": 0, "unit_s": float("inf"), "events_per_tick": 1000,
        "n_docs": 100}


def pin_session_env(work: Path) -> None:
    """Size the session to this host from outside the library: all CPUs the
    process may use, a driver heap of a quarter of RAM (at most 4 GiB), and
    every scratch file inside ``work``."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": f"{min(4096, ram_mb // 4)}m",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all its
    descendants: the Spark JVM and its Python workers, live or reaped."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        kids.setdefault(int(fields[1]), []).append(int(d))
        ticks[int(d)] = sum(int(x) for x in fields[11:15])  # u/s time, + reaped
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM has exited: the gateway JVM ends
    when its standard input closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)


def make_workload(name: str, spark, work: Path, seed: int, cfg: dict,
                  n_units: int, tracer):
    from perfbench.queries import LLM_CURATION, QuerySuite
    from perfbench.tick import PipelineTick

    if name == "pipeline_tick":
        return PipelineTick(spark, work, seed, cfg["events_per_tick"], n_units, tracer)
    return QuerySuite(LLM_CURATION, spark, work, seed, cfg["n_docs"], tracer)


def run(name: str, seed: int, seconds: float, trace: bool, tiny: bool = False) -> dict:
    cfg = {**WORKLOADS[name], **(TINY if tiny else {})}
    measured = max(1, math.floor(seconds / cfg["unit_s"]))
    work = WORK_ROOT / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    pin_session_env(work)

    from autonomous_orchestrator_ai_spark.session import get_spark
    from perfbench.trace import NullTracer, Tracer

    tracer = Tracer() if trace else NullTracer()
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark(f"perfbench-{name}")
    session_s = time.perf_counter() - t0
    try:
        tracer.attach(spark)
        wl = make_workload(name, spark, work, seed, cfg,
                           cfg["warmup"] + measured, tracer)
        wl.install_spans()
        with tracer.span("testing.generate"):
            wl.generate()

        failed, unit_wall, counters = 0, [], []
        for k in range(cfg["warmup"] + measured):
            is_measured = k >= cfg["warmup"]
            wl.land(k)
            if k == cfg["warmup"]:
                setup_s = time.perf_counter() - T_START
            spark.sparkContext.setJobDescription(f"perfbench {name} unit {k}")
            c0, t0 = tree_cpu_s(), time.perf_counter()
            with tracer.span("unit", unit=k, measured=is_measured):
                failed += wl.unit(k)
            dt, dc = time.perf_counter() - t0, tree_cpu_s() - c0
            print(f"unit {k} {'measured' if is_measured else 'warm-up'} "
                  f"{dt:.3f}s {dc:.2f}cpu-s", file=sys.stderr, flush=True)
            if is_measured:
                unit_wall.append(dt)
            tracer.resolve()
            counters.append({"unit.cpu_s": dc, **wl.unit_counters(k)})
        t0 = time.perf_counter()
        problems = wl.check()
        print(f"checks {time.perf_counter() - t0:.3f}s", file=sys.stderr)
    finally:
        stop_session(spark)
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)

    if trace:
        tracer.write(WORK_ROOT / f"trace-{name}-{seed}.json")
        metrics = layer_metrics(tracer, counters, session_s)
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "run_s": {"value": sum(unit_wall), "unit": "s"},
            "unit_p50_s": {"value": statistics.median(unit_wall), "unit": "s"},
        }
    shutil.rmtree(work, ignore_errors=True)
    return {
        "correct": not problems,
        "attempted": wl.ops_per_unit * (cfg["warmup"] + measured),
        "failed": failed,
        "metrics": metrics,
    }


def per_layer_names() -> list[dict]:
    return json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]


def layer_metrics(tracer, counters: list[dict], session_s: float) -> dict:
    """Every per-layer metric of BENCHMARK.json: per-unit values are medians
    over the measured units; a layer this workload never calls reads 0."""
    spans = tracer.spans
    units = [i for i, s in enumerate(spans) if s["name"] == "unit"]
    measured = [i for i in units if spans[i]["measured"]]
    values: dict[str, list[float]] = {}

    for i in measured:
        u = spans[i]
        per: dict[str, float] = {}
        for k in ("jobs", "stages", "tasks", "executor_run_s", "shuffle_bytes",
                  "spill_bytes", "job_wall_s"):
            per[f"spark.{k}"] = u[k]
        per["unit.wall_s"] = u["end"] - u["start"]
        per["driver.gap_s"] = per["unit.wall_s"] - u["job_wall_s"]
        for s in _descendants(spans, i):
            name = s["name"]
            if name == "streaming.run_bounded":
                per["streaming.run_bounded_jobs"] = s["jobs"]
            elif name == "operators.dq.run_suite":
                per["operators.dq.run_suite_jobs"] = s["jobs"]
                per["operators.dq.rows_scanned"] = s["input_records"]
            elif name.startswith("plans."):
                _, q, phase = name.split(".")
                per[f"plans.{q}.{phase}_jobs"] = s["jobs"]
                key = f"plans.{q}.shuffle_bytes"
                per[key] = per.get(key, 0) + s["shuffle_bytes"]
            elif name.startswith("session.") and name.endswith(".release"):
                per[f"session.{name.split('.')[1]}.rdds_released"] = s["rdds_released"]
            elif name.startswith("storage."):
                per[f"storage.{name.split('.')[1]}.persisted_bytes"] = s["persisted_bytes"]
        per.update(counters[spans[i]["unit"]])
        for k, v in per.items():
            values.setdefault(k, []).append(v)

    one_off = {
        "session.start_s": session_s,
        "testing.generate_s": sum(s["end"] - s["start"] for s in spans
                                  if s["name"] == "testing.generate"),
        "warmup.units_s": sum(spans[i]["end"] - spans[i]["start"]
                              for i in units if not spans[i]["measured"]),
    }
    out = {}
    for m in per_layer_names():
        if m["name"] in one_off:
            v = one_off[m["name"]]
        else:
            v = statistics.median(values[m["name"]]) if m["name"] in values else 0
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    return out


def _descendants(spans: list[dict], index: int) -> list[dict]:
    out, frontier = [], {index}
    for j in range(index + 1, len(spans)):
        if spans[j]["parent"] in frontier:
            frontier.add(j)
            out.append(spans[j])
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test size: tiny inputs, no warm-up, one unit")
    args = ap.parse_args()
    sys.path.insert(0, str(ROOT))
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.tiny)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
