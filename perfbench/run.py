#!/usr/bin/env python3
"""Benchmark harness for comm_detect_spark. Run from the repository root:

    python3 perfbench/run.py --workload graph_rmat --seed 1 --seconds 10 --trace 0

One process, one client, ``local[nproc]``. The run starts a session sized
from the host, generates the workload's inputs from ``--seed`` (three
set-up rounds; counts checked against ``expected_counts.json``), warms up,
then runs the timed body until ``--seconds`` have passed (at least once),
and checks every output against the NumPy oracle outside the timed window.

``--trace 1`` then restarts the Spark context with the event log on and
runs the body once more, traced: a timestamp-only IterationDriver hook,
a job group per operator call and phase, and the event log's TaskEnd
metrics folded per job group. The last stdout line is one JSON object:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
All files go under ``.perfbench_work/`` in the checkout and are removed
on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import spec  # noqa: E402

WORK = ROOT / ".perfbench_work"
SETUP_ROUNDS = 3
# a run must end within 180 s; give up (exit 1, no result) before that
RUN_LIMIT_S = 170


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("local", "tmp", "events"):
        (WORK / sub).mkdir(parents=True)
    # Spark's Python workers import the package (Louvain's kernel raises
    # ModuleNotFoundError otherwise when the cwd is not the repo root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    # shuffle/spill and temp files stay inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    # both JVMs (spark-submit's launcher and the driver) keep their temp
    # and perf-data files out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
    )


def _session(extra: dict | None = None):
    from comm_detect_spark.session import get_spark
    from perfbench import host

    n = host.cores()
    heap = f"{host.driver_heap_mb(host.mem_total_bytes())}m"
    conf = {
        # a fixed-size heap: its resident size does not follow the
        # collector's resizing from run to run
        "spark.driver.memory": heap,
        "spark.driver.extraJavaOptions": f"-Xms{heap}",
        "spark.local.dir": str(WORK / "local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    conf.update(extra or {})
    return get_spark(
        app_name="perfbench", cores=n, shuffle_partitions=n, extra_conf=conf
    )


def _event_log_conf() -> dict:
    # Spark 4 otherwise writes zstd-compressed rolling directories
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": (WORK / "events").as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _shutdown() -> None:
    """Stop Spark, end the gateway JVM and wait for every child."""
    from pyspark import SparkContext

    from perfbench.host import descendants

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in descendants():
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:  # not our direct child: poll until gone
            while os.path.exists(f"/proc/{pid}"):
                time.sleep(0.1)


class OutOfTime(BaseException):
    """Not an Exception: the per-call handlers must not swallow it."""


def _out_of_time(signum, frame):
    raise OutOfTime(f"run exceeded {RUN_LIMIT_S} s")


def _failed_ops(failures: list[str]) -> int:
    return len({f.split(":", 1)[0] for f in failures})


def _untraced(args, expected, setup_rounds: int) -> dict:
    from perfbench import host
    from perfbench.host import RssPeak
    from perfbench.workloads import WORKLOADS, InputMismatch

    t0 = time.perf_counter()
    spark = _session()
    session_s = time.perf_counter() - t0
    wl = WORKLOADS[args.workload](spark, args.seed, str(WORK), expected)
    rounds = []
    for _ in range(setup_rounds):
        t = time.perf_counter()
        wl.setup_round()
        rounds.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.warm_up()
    warm_s = time.perf_counter() - t

    bodies = []
    t = time.perf_counter()
    with RssPeak() as rss:
        while not bodies or time.perf_counter() - t < args.seconds:
            bodies.append(wl.body())
    t = time.perf_counter()
    attempted = failed = 0
    for b in bodies:
        try:
            b.failures += wl.check(b)
        except InputMismatch:
            raise
        except Exception:  # a crashed check is a failed check
            traceback.print_exc()
            b.failures.append("oracle check: raised")
        attempted += b.attempted
        failed += _failed_ops(b.failures)
    walls = [b.wall_s for b in bodies]
    return {
        "spark": spark,
        "workload": wl,
        "bodies": bodies,
        "host": host.facts(spark),
        "attempted": attempted,
        "failed": failed,
        "phases": {
            "session_s": session_s,
            "setup_round_s": statistics.median(rounds),
            "warm_up_s": warm_s,
            "check_s": time.perf_counter() - t,
        },
        "metrics": {
            "setup_s": session_s + statistics.median(rounds) + warm_s,
            "wall_s": statistics.median(walls),
            "edges_per_s": statistics.median(
                b.edges_processed / b.wall_s for b in bodies
            ),
            "pages_per_s": statistics.median(wl.pages() / w for w in walls),
            "peak_rss_mb": rss.peak_mb,
        },
    }


def _op_layers(call, groups: dict, workload: str) -> dict:
    from perfbench.tracing import Fold, parse_group

    d = call.driver
    marks = [d.started_at] + d.installed_at
    steps = [b - a for a, b in zip(marks, marks[1:])]
    it = max(d.iterations, 1)
    every, iters = Fold(), Fold()
    for gid, fold in groups.items():
        g = parse_group(gid)
        if g and g[0] == workload and g[1] == call.op:
            every.add(fold)
            if g[2] == "iter":
                iters.add(fold)
    p = f"operators.{call.op}."
    return {
        p + "wall_s": call.wall_s,
        p + "setup_s": d.started_at - call.t0,
        p + "iter_s": statistics.median(steps) if steps else 0.0,
        p + "iter_max_s": max(steps, default=0.0),
        p + "finish_s": call.t1 - marks[-1],
        p + "iterations": d.iterations,
        p + "iter_edges_per_s":
            call.entries * d.iterations / sum(steps) if steps else 0.0,
        p + "jobs_per_iter": iters.jobs / it,
        p + "shuffle_read_bytes_per_iter": iters.shuffle_read_bytes / it,
        p + "shuffle_write_bytes_per_iter": iters.shuffle_write_bytes / it,
        p + "spill_bytes": every.spill_bytes,
        p + "peak_exec_mem_bytes": every.peak_exec_mem_bytes,
        p + "gc_s": every.gc_ms / 1e3,
        p + "executor_cpu_s": every.cpu_ns / 1e9,
        p + "task_skew": every.task_skew(),
    }


def _missing_phases(calls, groups: dict, workload: str) -> int:
    """Phases of the timed calls that no job group in the log carries."""
    from perfbench.tracing import group_id

    missing = 0
    for c in calls:
        phases = [("setup", 0)] + [
            ("iter", k) for k in range(1, c.driver.iterations + 1)
        ] + [("finish", c.driver.iterations)]
        for phase, k in phases:
            if group_id(workload, c.op, phase, k) not in groups:
                missing += 1
    return missing


def _traced(args, expected, base: dict) -> dict:
    from perfbench.tracing import (
        COGROUP_KERNEL, Fold, JobTags, fold_event_log, group_id,
    )
    from perfbench.workloads import WORKLOADS

    base["workload"].release()
    base["spark"].stop()
    spark = _session(_event_log_conf())
    tags = JobTags(spark.sparkContext, args.workload)
    wl = WORKLOADS[args.workload](spark, args.seed, str(WORK), expected)
    wl.setup_round(tags)
    body = wl.body(tags)
    tags.clear()
    wl.release()
    spark.stop()  # closes and renames the event log
    logs = [p for p in (WORK / "events").iterdir() if p.is_file()]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    groups, sites = fold_event_log(str(logs[0]))

    m = {name: 0.0 for name, _ in spec.per_layer()}
    for call in body.calls:
        m.update(_op_layers(call, groups, args.workload))
    missing = _missing_phases(body.calls, groups, args.workload)
    if body.report is not None:
        if group_id(args.workload, "run_pipeline", "iter", 1) not in groups:
            missing += 1
        stages = body.report["stages"]
        for s in spec.PIPELINE_STAGES:
            m[f"jobs.run_pipeline.{s}_s"] = stages[s]
        m["sources.pages.extract_s"] = stages["url_edges"]
        # Louvain's jobs: those whose call site is louvain.py, plus the
        # count()-driven sweeps that run its cogrouped kernel (the only
        # cogrouped pandas kernel in the pipeline)
        lv = Fold()
        for key in ("louvain.py", COGROUP_KERNEL):
            lv.add(sites.get(key, Fold()))
        if lv.jobs:
            m["operators.louvain.executor_cpu_s"] = lv.cpu_ns / 1e9
            m["operators.louvain.gc_s"] = lv.gc_ms / 1e3
            m["operators.louvain.python_bytes_sent"] = lv.python_bytes_sent
            m["operators.louvain.python_bytes_returned"] = (
                lv.python_bytes_returned
            )
    q = base["bodies"][-1].outputs.get("modularity_q")
    if q is not None:
        m["jobs.run_pipeline.modularity_q"] = q
    for name, xs in wl.layer_s.items():  # the traced set-up round
        m[name] = statistics.median(xs)
    m["trace.wall_s"] = body.wall_s
    m["trace.overhead_s"] = body.wall_s - base["metrics"]["wall_s"]
    m["trace.phases_without_jobs"] = missing
    return {"metrics": m, "body": body}


def main(argv=None) -> int:
    t_run = time.perf_counter()
    args = _parse(argv)
    if not (ROOT / "comm_detect_spark" / "__init__.py").is_file() or not (
        ROOT / "jobs" / "run_pipeline.py"
    ).is_file():
        print(
            f"perfbench: no comm_detect_spark/ and jobs/ under {ROOT}; "
            "run it from a checkout of the repository",
            file=sys.stderr,
        )
        return 2
    from perfbench.workloads import WORKLOADS, InputMismatch

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {list(WORKLOADS)}", file=sys.stderr)
        return 2
    _prepare_env()
    signal.signal(signal.SIGALRM, _out_of_time)
    signal.alarm(RUN_LIMIT_S)
    with open(Path(__file__).with_name("expected_counts.json")) as f:
        expected = json.load(f)
    try:
        # a traced run reports no setup_s: one set-up round keeps it short
        base = _untraced(args, expected, 1 if args.trace else SETUP_ROUNDS)
        traced = _traced(args, expected, base) if args.trace else None
    except InputMismatch as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 3
    finally:
        signal.alarm(0)
        _shutdown()
        shutil.rmtree(WORK, ignore_errors=True)

    attempted, failed = base["attempted"], base["failed"]
    if traced is not None:
        attempted += traced["body"].attempted
        failed += _failed_ops(traced["body"].failures)
    print(f"perfbench {args.workload} seed={args.seed} "
          + " ".join(f"{k}={v}" for k, v in base["host"].items()))
    for b in base["bodies"]:
        for f in b.failures:
            print(f"FAILED {f}")
        if b.report is not None:
            print("  run_pipeline " + json.dumps(b.report["stages"]))
        for c in b.calls:
            print(f"  {c.op} {c.wall_s:.4f} s, {c.driver.iterations} it")
    for k, v in base["phases"].items():
        print(f"  {k:<38} {v:>16.4f} s")
    for name, unit in spec.END_TO_END:
        print(f"{name:<40} {base['metrics'][name]:>16.4f} {unit}")
    print(f"{'ops_failed_frac':<40} {failed / attempted:>16.4f} ratio "
          f"({failed}/{attempted})")
    q = base["bodies"][-1].outputs.get("modularity_q")
    if q is not None:
        print(f"{'modularity_q':<40} {q:>16.6f}")
    print(f"  {'run_s (whole process)':<38} "
          f"{time.perf_counter() - t_run:>16.4f} s")
    if traced is None:
        units = dict(spec.END_TO_END)
        metrics = base["metrics"]
    else:
        units = dict(spec.per_layer())
        metrics = traced["metrics"]
        for name, unit in spec.per_layer():
            print(f"{name:<40} {metrics[name]:>16.4f} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": float(metrics[k]), "unit": units[k]} for k in units
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
