"""Benchmark entry point: one workload per process, closed loop, one client.

  python3 perfbench/run.py --workload er_small --seed 1 --seconds 10 --trace 0

Prints the host facts, then every metric by name with its unit, and as the
last line of stdout one JSON object {correct, attempted, failed, metrics}.
--trace 0 reports the end-to-end metrics; --trace 1 runs the workload once
untraced and once with the event log and the span wrappers on, prints the
per-layer table with its tracing overhead, and reports the per-layer
metrics. See perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# fail fast (non-zero exit, no result) where the program is not present
import ala_name_matching_spark  # noqa: E402,F401

from perfbench import trace  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

END_TO_END = {
    "wall_s": "s", "rows_per_s": "rows/s", "batch_p50_s": "s", "setup_s": "s",
    "driver_peak_rss_mb": "MB", "quality": "ratio",
}
T_START = time.time()


def log(msg: str) -> None:
    print(f"[{time.time() - T_START:7.2f}] {msg}", file=sys.stderr, flush=True)


def host_facts(nproc: int, driver_mem: str) -> dict:
    import pyspark

    out = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    java = [line for line in out.splitlines() if "version" in line]
    return {
        "nproc": nproc, "driver_memory": driver_mem, "spark": pyspark.__version__,
        "python": platform.python_version(), "java": java[0] if java else "unknown",
    }


def driver_memory_mb() -> int:
    """A quarter of host RAM, capped at 4 GiB: the local-mode driver JVM also
    hosts the executors, and the host has no swap."""
    with open("/proc/meminfo") as fh:
        total_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return min(4096, total_kb // 1024 // 4)


def start_spark(nproc: int, work: str, event_dir: str | None):
    from ala_name_matching_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap: a resizing one made set-up time vary more from run to run
        "spark.driver.extraJavaOptions": "-Xms" + os.environ["SPARK_DRIVER_MEMORY"],
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", master=f"local[{nproc}]", extra_conf=conf)


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts, so a
    process whose parent ends (the Python worker daemon when the JVM ends)
    becomes this process's child and can be waited for."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def children() -> list[int]:
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                st = fh.read()
        except OSError:  # ended meanwhile
            continue
        if int(st[st.rindex(")") + 2:].split()[1]) == me:
            kids.append(int(d))
    return kids


def stop_children(grace_s: float = 20.0) -> None:
    """Stop the Spark JVM and every other process this run started, and wait
    until each has ended. The JVM exits on EOF of its stdin and takes its
    Python workers with it; whatever is left after `grace_s` is killed."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None and getattr(gw, "proc", None) is not None and gw.proc.stdin:
        gw.shutdown()  # first, so no later JVM call races the JVM's exit
        gw.proc.stdin.close()
    deadline = time.time() + grace_s
    while kids := children():
        if time.time() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.05)


def gc_all(spark) -> None:
    # release the previous pass's cached and dead checkpoint blocks before
    # the next one, so every pass starts from the same session state
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def run_loop(wl, spark, work: str, seconds: float, rec) -> dict:
    """Warm passes, then timed passes for about `seconds`; checks each pass
    outside its timed region. Returns the raw per-pass figures."""
    listener = trace.BatchListener(spark)
    res = {
        "attempted": 0, "failed": 0, "check_s": 0.0,
        "wall": [], "rows": [], "batch": [], "rss_mb": [], "quality": [], "ok_passes": [],
    }

    def one_pass(timed: bool) -> float:
        pdir = os.path.join(work, f"pass{res['attempted']}")
        gc_all(spark)
        p = wl.run_pass(spark, pdir, rec, listener, warm=not timed)
        t_check = time.time()
        ok, quality = p.check()
        res["check_s"] += time.time() - t_check
        shutil.rmtree(pdir, ignore_errors=True)
        res["attempted"] += 1
        batches = " ".join(f"{b:.3f}" for b in p.batch_s)
        log(f"pass {res['attempted'] - 1}: {p.wall_s:.3f} s (batches {batches}), "
            f"check {'ok' if ok else 'FAILED'} ({quality:.6g})")
        if not ok:
            res["failed"] += 1
        elif timed:
            res["wall"].append(p.wall_s)
            res["rows"].append(p.rows)
            res["batch"] += p.batch_s
            res["rss_mb"].append(rec.passes[-1]["rss_mb"])
            res["quality"].append(quality)
            res["ok_passes"].append(len(rec.passes) - 1)
        return p.wall_s

    for _ in range(wl.warm_passes):
        one_pass(timed=False)
    # set-up ends with the warm passes; their output checks are not set-up
    res["warm_end"] = time.time() - res["check_s"]
    elapsed = 0.0
    while elapsed < seconds:  # whole passes: at least one
        elapsed += one_pass(timed=True)
    return res


def session_run(wl, inp: str, work: str, nproc: int, seconds: float, event_dir: str | None):
    """Start a session, stage, warm up and time the passes. Returns the raw
    figures, the set-up time, the recorded spans of the passes that passed
    their check, and the event log path (traced runs only)."""
    t0 = time.time()
    spark = start_spark(nproc, work, event_dir)
    log(f"session started in {time.time() - t0:.3f} s")
    uninstall = None
    try:
        rec = trace.Recorder(spark if event_dir else None)
        if event_dir:
            uninstall = trace.install(rec)
        wl.stage(spark, inp)
        res = run_loop(wl, spark, work, seconds, rec)
        setup_s = res["warm_end"] - t0
        log_path = None
        if event_dir:
            log_path = os.path.join(event_dir, spark.sparkContext.applicationId)
        passes = [rec.passes[i] for i in res["ok_passes"]]
    finally:
        if uninstall:
            uninstall()
        for q in spark.streams.active:
            q.stop()
        spark.stop()
    return res, setup_s, passes, log_path


def untraced_baseline(a: argparse.Namespace) -> dict:
    """Result of the same run with --trace 0, from a child process."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", a.workload,
         "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", "0",
         "--scale", str(a.scale)],
        stdout=subprocess.PIPE, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="ER benchmark: one workload per run")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (smoke tests)")
    a = ap.parse_args(argv)

    adopt_orphans()
    # a terminated run still stops what it started (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    nproc = len(os.sched_getaffinity(0))
    mem = f"{driver_memory_mb()}m"
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    inp = os.path.join(work, "input")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = mem
    # temp files of Python, pyspark and every JVM stay in the work directory;
    # without perf data the JVMs write nothing to /tmp/hsperfdata_<user>
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (ROOT, os.environ.get("PYTHONPATH")) if x
    )
    wl = WORKLOADS[a.workload]()
    try:
        if a.trace:
            # the untraced baseline runs in its own process: a second Spark
            # context in one process loses its Python accumulator channel
            base = untraced_baseline(a)
        t_gen = time.time()
        subprocess.run(
            [sys.executable, "-m", "perfbench.gen", "--workload", a.workload,
             "--seed", str(a.seed), "--out", inp, "--scale", str(a.scale)],
            cwd=ROOT, check=True,
        )
        log(f"inputs generated in {time.time() - t_gen:.3f} s (not set-up)")
        ev = os.path.join(work, "eventlog") if a.trace else None
        res, setup_s, passes, log_path = session_run(wl, inp, work, nproc, a.seconds, ev)
        print("host", json.dumps(host_facts(nproc, mem)))
        if not res["wall"]:
            raise RuntimeError("no timed pass passed its check")
        wall = statistics.median(res["wall"])
        if a.trace:
            table = trace.layer_table(trace.read_event_log(log_path), passes)
            print(trace.format_table(table, wall - base["metrics"]["wall_s"]["value"]))
            res["attempted"] += base["attempted"]
            res["failed"] += base["failed"]
            metrics = {k: {"value": table[k], "unit": u} for k, u in trace.LAYER_UNITS.items()}
        else:
            e2e = {
                "wall_s": wall,
                "rows_per_s": statistics.median(res["rows"]) / wall,
                "batch_p50_s": statistics.median(res["batch"]),
                "setup_s": setup_s,
                "driver_peak_rss_mb": max(res["rss_mb"]),
                "quality": statistics.median(res["quality"]),
            }
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        for k, m in metrics.items():
            print(f"{k:48s}{m['value']:16.6g} {m['unit']}")
        print(f"passes: {len(res['wall'])} timed, {res['attempted']} attempted, {res['failed']} failed")
    finally:
        stop_children()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
