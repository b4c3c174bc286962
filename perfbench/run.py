"""Benchmark of the engine: one workload per invocation, as a
single-client closed loop on ``local[<cpus>]``.

    python3 perfbench/run.py --workload assessment --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all        # every workload, one after another

A run sets up the session (timed from process start: ``setup_s``),
builds its inputs from ``--seed`` (excluded from every metric), runs
one cold iteration, then warm iterations until ``--seconds`` have
passed (at least one), checks the outputs and stops Spark and its JVM.
With ``--trace 1`` the warm iterations are instead one untraced and
one traced iteration; the run reports per-layer metrics from the traced
one, including the tracing overhead (traced minus untraced ``wall_s``).
Spark's job, stage and task counts are read after every iteration and
must repeat exactly across the warm ones.

Everything the run writes (inputs, Spark warehouse and local dirs,
checkpoints, index directories, JVM temp files) lives under
``.perfbench_tmp/<pid>`` in the checkout and is deleted at exit; spans
of a traced run are written to ``.perfbench_out/``. Human-readable
lines go to stdout; the last line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from meter import ProcTree, StatusCounters, Tracer, cpu_delta, median, process_age_s  # noqa: E402

EXACT_COUNTERS = ("jobs", "stages", "tasks")
DRIVER_MEM = "1g"

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "wall_s": "s",
    "cpu_s": "CPU-s",
    "peak_rss_mb": "MB",
}


def hermetic_env(tmp: str) -> None:
    """Point every scratch location of Python, Spark and the JVM into
    ``tmp`` and let Spark's Python workers import the package from the
    checkout whatever the working directory."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ.update(
        TMPDIR=os.path.join(tmp, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')}",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
    )
    os.chdir(tmp)  # spark-warehouse/ and metastore files land here


def remove_tmp(tmp: str) -> None:
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(tmp))  # only when no other run uses it
    except OSError:
        pass


def setup() -> tuple[object, dict[str, float]]:
    """Imports, ``registry.load_all``, ``get_spark`` and one trivial
    query, timed from process start."""
    sys.path.insert(0, ROOT)
    from ai_ready_data_framework_spark import registry
    from ai_ready_data_framework_spark.session import get_spark

    registry.load_all()
    imported = process_age_s()
    spark = get_spark()
    spark.range(1).count()
    ready = process_age_s()
    return spark, {"setup_s": ready, "session.import_s": imported, "session.start_s": ready - imported}


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def measure(wl, procs: ProcTree, counters: StatusCounters, tracer: Tracer, seconds: float, trace: bool):
    """The cold iteration, then the warm ones: untraced until ``seconds``
    have passed, or one untraced and one traced one."""

    def timed(i: int) -> dict:
        counters.take()  # drop the jobs run between iterations
        first_span = len(tracer.spans)
        cpu0, t0 = procs.cpu(), time.perf_counter()
        with tracer.span(f"iteration.{i}", "bench"):
            wl.iteration(i)
        wall = time.perf_counter() - t0
        rec = {"wall_s": wall, "cpu": cpu_delta(cpu0, procs.cpu()), "counters": counters.take()}
        if tracer.enabled:
            rec["times"] = tracer.durations(first_span)
            rec["cache"] = counters.cache_state()
        wl.after_iteration(i)
        return rec

    cold = timed(0)
    warm, traced = [], []
    if not trace:
        t_start = time.perf_counter()
        while not warm or time.perf_counter() - t_start < seconds:
            warm.append(timed(len(warm) + 1))
        return cold, warm, traced
    wl.start_trace()
    # one pair keeps a traced run within an iteration of an untraced
    # one; a JVM still getting faster makes the overhead read low
    warm.append(timed(1))
    tracer.enabled = True
    traced.append(timed(2))
    wl.traced_extras()
    tracer.enabled = False
    return cold, warm, traced


def run_workload(name: str, seed: int, seconds: float, trace: bool, tmp: str) -> dict:
    from workloads import WORKLOADS

    procs = ProcTree()
    spark, setup_times = setup()
    try:
        tracer = Tracer(enabled=False, run=f"{name}-seed{seed}")
        counters = StatusCounters(spark)
        wl = WORKLOADS[name](spark, tmp, seed, tracer, counters)
        wl.prepare()
        procs.start_sampling()
        cold, warm, traced = measure(wl, procs, counters, tracer, seconds, trace)
        procs.stop_sampling()
        try:
            problems = wl.gate()
        except Exception as exc:  # noqa: BLE001 - outputs the gate cannot read are wrong
            problems = [f"gate: {type(exc).__name__}: {str(exc)[:300]}"]
        problems += counter_problems(warm + traced)
    finally:
        procs.stop_sampling()
        stop_spark(spark)

    metrics = {
        "setup_s": setup_times["setup_s"],
        "cold_s": cold["wall_s"],
        "wall_s": median(r["wall_s"] for r in warm),
        "cpu_s": median(sum(r["cpu"].values()) for r in warm),
        "peak_rss_mb": procs.peak_rss_mb,
    }
    result = {
        "correct": not problems and wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "problems": problems,
        "errors": wl.errors,
        "e2e": metrics,
    }
    if trace:
        result["layers"] = layer_metrics(wl, setup_times, cold, warm, traced, tracer)
        write_spans(tracer, name, seed)
    return result


def counter_problems(warm: list[dict]) -> list[str]:
    """Warm iterations run the same plans, so their job, stage and task
    counts must repeat exactly; a count that moves means some operation
    plans differently from one iteration to the next."""
    out = []
    for k in EXACT_COUNTERS:
        seen = [r["counters"][k] for r in warm]
        if len(set(seen)) > 1:
            out.append(f"spark.{k} differs across warm iterations: {seen}")
    return out


def layer_metrics(wl, setup_times, cold, untraced, traced, tracer) -> dict[str, float]:
    """Every declared per-layer metric: 0 where the layer does not run."""
    from meter import COUNTER_KEYS

    declared = declared_units("per_layer")
    out = dict.fromkeys(declared, 0.0)
    out.update({k: setup_times[k] for k in ("session.import_s", "session.start_s")})
    for k in COUNTER_KEYS:
        out[f"spark.{k}"] = median(r["counters"][k] for r in traced)
    out["spark.jobs_cold"] = cold["counters"]["jobs"]
    for k in EXACT_COUNTERS:
        out[f"counters.exact_{k}"] = float(len({r["counters"][k] for r in untraced + traced}) == 1)
    for kind in ("jvm", "pyworker", "driver_py"):
        out[f"proc.{kind}_cpu_s"] = median(r["cpu"].get(kind, 0.0) for r in traced)
    out["cache.persisted_rdds_after"], out["cache.storage_mb"] = traced[-1]["cache"]
    out["trace.overhead_s"] = median(r["wall_s"] for r in traced) - median(r["wall_s"] for r in untraced)
    out["trace.spans"] = len(tracer.spans)
    # per traced iteration; the serial check pass is in checks.* instead
    for layer, s in tracer.self_time_by_layer().items():
        if layer != "checks":
            out[f"self_s.{layer}"] = s / len(traced)
    out.update(wl.layer_metrics([r["times"] for r in traced]))
    undeclared = set(out) - set(declared)
    if undeclared:
        raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(undeclared)}")
    return out


def write_spans(tracer: Tracer, name: str, seed: int) -> None:
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"spans-{name}-seed{seed}.json"), "w") as f:
        json.dump([s.__dict__ for s in tracer.spans], f)


def declared_units(group: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[group]}


def report(name: str, res: dict, trace: bool) -> dict:
    """Print the human-readable lines and return the result object."""
    failed_frac = res["failed"] / max(1, res["attempted"])
    verdict = "correct" if res["correct"] else "INCORRECT"
    print(f"[{name}] {verdict}: attempted={res['attempted']} failed={res['failed']} failed_frac={failed_frac:.4f}")
    for p in res["problems"] + res["errors"]:
        print(f"[{name}]   {p}")
    for k, unit in END_TO_END.items():
        print(f"[{name}] {k:<14} {res['e2e'][k]:12.4f} {unit}")
    if trace:
        units = declared_units("per_layer")
        for k, v in res["layers"].items():
            print(f"[{name}] {k:<34} {v:14.4f} {units.get(k, '')}")
        metrics = {k: {"value": v, "unit": units[k]} for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=20240101)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    from workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args, list(WORKLOADS))
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)} or all")
    tmp = os.path.join(ROOT, ".perfbench_tmp", str(os.getpid()))
    # a terminated run still stops Spark and removes its scratch state
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    hermetic_env(tmp)
    try:
        res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), tmp)
    finally:
        os.chdir(ROOT)
        remove_tmp(tmp)
    print(json.dumps(report(args.workload, res, bool(args.trace))))
    return 0


def run_all(args, names: list[str]) -> int:
    """Run each workload in its own process and print its lines."""
    results = {}
    for name in names:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, check=True,
        )
        lines = out.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        results[name] = json.loads(lines[-1])
    print(json.dumps(results))
    return 0


if __name__ == "__main__":
    sys.exit(main())
