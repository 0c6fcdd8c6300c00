"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload index --seed 1 --seconds 10 --trace 0

Run it from the repository root. It starts one Spark session (``local[N]``,
N = the CPUs this process may use), builds the workload's inputs from the
seed several times (the workload's ``setup_reps``) and keeps the median
set-up time, then runs the workload's untimed warm-up cycles and whole
cycles of calls for ``--seconds`` (at least three), and checks every
answer against its own numpy oracle. It prints one line per metric (name,
value, unit, sample count) and, last, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones and writes the
spans to ``perfbench/out/``. The exit code is 1 when any answer is
wrong, 2 when the package cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.common import Bench, geomean, median, now, persisted  # noqa: E402

MIN_CYCLES = 3


def _workloads():
    from perfbench.dedup import Dedup
    from perfbench.index import Index

    return {w.name: w for w in (Index, Dedup)}


def _sizes(name: str) -> dict:
    import importlib

    return importlib.import_module(f"perfbench.{name}").SIZES


def _git(*args: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", *args], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def run_record(args, spark, master: str, size: dict) -> dict:
    import pyspark

    sha = _git("rev-parse", "HEAD")
    status = _git("status", "--porcelain", "--untracked-files=no")
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": args.size,
        "sizes": size,
        "nproc": os.cpu_count(),
        "cpus_usable": len(os.sched_getaffinity(0)),
        "master": master,
        "git_sha": sha,
        "git_dirty": None if status is None else bool(status),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "platform": platform.platform(),
    }


def start_spark(workdir: str, cpus: int):
    from semantic_index_spark.session import get_spark

    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(workdir, d), exist_ok=True)
    # executors' Python workers inherit this, so their temp files stay here too
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    master = f"local[{cpus}]"
    spark = get_spark(
        app_name="perfbench",
        master=master,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            # no hsperfdata file under /tmp: the run writes only inside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={workdir}/tmp -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, master


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def set_up(b: Bench, wl, reps: int) -> list[dict]:
    """Build the workload's inputs ``reps`` times from the same seed, each
    into a fresh directory; the loop uses the last build."""
    out = []
    for r in range(reps):
        root = os.path.join(b.workdir, f"setup{r}")
        first = len(b.calls)
        with b.tracer.span("setup.rep"):
            t0 = now()
            with b.tracer.span("setup.generate"):
                wl.generate(root)
            t1 = now()
            wl.build(root)
            t2 = now()
        per_kind: dict[str, float] = {}
        for c in b.calls[first:]:
            per_kind[c.kind] = per_kind.get(c.kind, 0.0) + c.wall
        out.append({"total": t2 - t0, "generate": t1 - t0, "package": t2 - t1, "kinds": per_kind})
        b.note(f"setup.rep{r}_s", t2 - t0, "s")
        if r + 1 < reps:
            shutil.rmtree(root, ignore_errors=True)
    return out


def loop(b: Bench, wl, seconds: float) -> None:
    """The workload's untimed warm-up cycles (first-call class loading, JIT
    and Python worker imports), then whole cycles until ``seconds`` have
    passed, and at least MIN_CYCLES. A fixed floor keeps the sample count
    per call kind the same from run to run: ANN searches slow down as
    commits pile up, so a count that depended on speed would split runs
    into groups. Three samples per kind let a median pass over one cycle
    that a neighbour on the host slowed, or that still ran partly cold."""
    b.phase = "warmup"
    t0 = now()
    for i in range(wl.warmup_cycles):
        with b.cycle(i):
            wl.cycle(i)
    b.note("warmup.cycles_s", now() - t0, "s", wl.warmup_cycles)
    b.phase = "loop"
    t0 = now()
    i = first = wl.warmup_cycles
    while i - first < MIN_CYCLES or now() - t0 < seconds:
        with b.cycle(i):
            wl.cycle(i)
        i += 1
    b.note("loop.cycles", i - first, "count")
    b.note("loop.wall_s", now() - t0, "s")


def call_ms_p50(b: Bench) -> float:
    """Geometric mean, over the workload's call kinds, of each kind's
    median call latency: every kind weighs the same however fast it is."""
    return geomean([median(b.latencies(k)) for k in b.kinds()]) * 1e3


def layer_metrics(b: Bench, session_s: float, setups: list[dict]) -> dict:
    """The per-layer metrics of a traced run: set-up phases, the mean
    Spark-engine breakdown of a loop call, leftover persisted storage and
    the tracing overhead."""
    calls = b.loop_calls()
    n = len(calls)

    def mean(f):
        return sum(f(c) for c in calls) / n

    rdds, mb = persisted(b.spark)
    m = {
        "session.get_spark_s": (session_s, "s"),
        "setup.generate_s": (median([s["generate"] for s in setups]), "s"),
        "setup.package_s": (median([s["package"] for s in setups]), "s"),
        "call.build_ms": (mean(lambda c: c.build) * 1e3, "ms"),
        "call.plan_ms": (mean(lambda c: c.plan) * 1e3, "ms"),
        "call.exec_ms": (mean(lambda c: c.exec) * 1e3, "ms"),
        "call.job_ms": (mean(lambda c: c.spark["job_ms"]), "ms"),
        "call.driver_gap_ms": (mean(lambda c: c.wall * 1e3 - c.spark["job_ms"]), "ms"),
        "spark.jobs_per_call": (mean(lambda c: c.spark["jobs"]), "count"),
        "spark.stages_per_call": (mean(lambda c: c.spark["stages"]), "count"),
        "spark.tasks_per_call": (mean(lambda c: c.spark["tasks"]), "count"),
        "spark.executor_run_ms_per_call": (mean(lambda c: c.spark["executor_run_ms"]), "ms"),
        "spark.executor_cpu_ms_per_call": (mean(lambda c: c.spark["executor_cpu_ms"]), "ms"),
        "spark.input_bytes_per_call": (mean(lambda c: c.spark["input_bytes"]), "bytes"),
        "spark.shuffle_write_bytes_per_call": (
            mean(lambda c: c.spark["shuffle_write_bytes"]), "bytes"),
        "spark.persisted_rdds_end": (rdds, "count"),
        "spark.persisted_mb_end": (mb, "MB"),
        "trace.overhead_pct": (b.trace_s / sum(c.wall for c in calls) * 100.0, "%"),
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def kind_notes(b: Bench) -> None:
    """Per-call-kind detail lines: median latency, and for a traced run
    the per-call Spark breakdown of that kind."""
    for kind in b.kinds():
        lat = b.latencies(kind)
        b.note(f"{kind}.ms_p50", median(lat) * 1e3, "ms", len(lat))
        if len(lat) >= 100:
            q = sorted(lat)[int(0.9 * len(lat))]
            b.note(f"{kind}.ms_p90", q * 1e3, "ms", len(lat))
        traced = [c for c in b.loop_calls() if c.kind == kind and c.spark]
        if not traced:
            continue
        n = len(traced)
        for part in ("build", "plan", "exec"):
            b.note(f"spark.{kind}.{part}_ms", sum(getattr(c, part) for c in traced) / n * 1e3, "ms", n)
        b.note(f"spark.{kind}.driver_gap_ms",
               sum(c.wall * 1e3 - c.spark["job_ms"] for c in traced) / n, "ms", n)
        for f in ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
                  "input_bytes", "shuffle_write_bytes", "spill_bytes"):
            unit = "count" if f in ("jobs", "stages", "tasks") else (
                "bytes" if f.endswith("bytes") else "ms")
            b.note(f"spark.{kind}.{f}", sum(c.spark[f] for c in traced) / n, unit, n)


def run(args, b: Bench, session_s: float, record: dict) -> dict:
    wl = _workloads()[args.workload](b, record["sizes"])
    spark = b.spark
    try:
        setups = set_up(b, wl, wl.setup_reps)
        med = sorted(setups, key=lambda s: s["total"])[len(setups) // 2]
        for kind, secs in med["kinds"].items():
            b.note(f"{kind}_s", secs, "s")
        wl.prepare()
        loop(b, wl, args.seconds)
        b.phase = "final"
        items_per_s, quality = wl.finish()
    except Exception:  # noqa: BLE001 - any error ends the run as a failure
        b.abort(f"run aborted:\n{traceback.format_exc()}")
        return {"correct": False, "attempted": max(b.attempted, 1), "failed": b.failed,
                "metrics": {}}
    finally:
        b.note("error_rate", b.failed / max(b.attempted, 1), "fraction", b.attempted)
    rdds, mb = persisted(spark)
    b.note("persisted_rdds_end", rdds, "count")
    b.note("persisted_mb_end", mb, "MB")
    kind_notes(b)
    b.note("call_ms_p50", call_ms_p50(b), "ms", len(b.loop_calls()))
    if args.trace:
        metrics = layer_metrics(b, session_s, setups)
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        b.tracer.dump(os.path.join(HERE, "out", f"trace-{args.workload}-seed{args.seed}.json"))
    else:
        metrics = {
            "setup_s": {"value": median([s["total"] for s in setups]), "unit": "s"},
            "call_ms_p50": {"value": call_ms_p50(b), "unit": "ms"},
            "items_per_s": {"value": items_per_s, "unit": "1/s"},
            "quality": {"value": quality, "unit": "fraction"},
        }
    result = {"correct": b.failed == 0, "attempted": b.attempted, "failed": b.failed,
              "metrics": metrics}
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", f"result-{args.workload}-seed{args.seed}"
                                        f"-trace{args.trace}.json"), "w") as f:
        json.dump({"run_record": record, "result": result,
                   "notes": {k: list(v) for k, v in b.info.items()}}, f, indent=1)
    return result


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("index", "dedup"))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("bench", "smoke"), default="bench")
    args = p.parse_args(argv)
    try:
        import semantic_index_spark
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(semantic_index_spark.__file__))) != ROOT:
        print(f"perfbench: the package is not the one in {ROOT}", file=sys.stderr)
        return 2
    workdir = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    spark = None
    try:
        t0 = now()
        spark, master = start_spark(workdir, len(os.sched_getaffinity(0)))
        session_s = now() - t0
        record = run_record(args, spark, master, _sizes(args.workload)[args.size])
        print("run_record " + json.dumps(record, sort_keys=True), flush=True)
        b = Bench(spark, workdir, args.seed, bool(args.trace))
        result = run(args, b, session_s, record)
        for name, (value, unit, n) in b.info.items():
            print(f"{name} {value:.6g} {unit} n={n}")
        for name, m in result["metrics"].items():
            print(f"{name} {m['value']:.6g} {m['unit']}")
        print(json.dumps(result), flush=True)
        return 0 if result["correct"] else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
