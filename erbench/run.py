"""Entity-resolution benchmark: one workload, one JVM, one JSON result.

    python3 erbench/run.py --workload er_mentions --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is the result; the line before it is a record of the
input shape, the host and the effective Spark configuration. With
``--trace 0`` the result carries the end-to-end metrics, with ``--trace 1``
the per-layer metrics of a separate traced run (see README.md).
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

T_PROCESS = time.perf_counter()


def cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


JIFFIES_AT_START = cpu_jiffies()

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
DRIVER_MEM = "3g"
SETUP_SAMPLES = 2  # set-ups per timed run (the traced run sets up once)
WARM_ROWS = 1000


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def prepare_environment(tmp: str) -> int:
    """Everything the session and its workers read at launch. Returns the
    number of task slots (the CPUs this process may run on)."""
    nproc = len(os.sched_getaffinity(0))
    for d in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
        TMPDIR=os.path.join(tmp, "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    sys.path.insert(0, ROOT)
    return nproc


def start_session(tmp: str, trace: bool):
    from neuronews_spark.session import get_spark

    conf = {
        # keep the JVM's temp files in the checkout; -UsePerfData stops it
        # writing /tmp/hsperfdata_<user>/<pid>
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(tmp, "eventlog"),
            "spark.eventLog.compress": "false",
            # one file, not the rolling directory Spark 4 writes by default
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="erbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    """The small warm-up that ends set-up: the first query of the session,
    a sum over a few generated rows."""
    spark.range(WARM_ROWS).selectExpr("sum(id)").collect()


def start_setup_samples(tmp: str, n: int) -> list[subprocess.Popen]:
    """Start ``n`` more set-ups, each in a separate process (setup_sample.py)
    that starts, sets up the way this process does, prints its seconds and
    exits. They run alongside this process's own set-up."""
    return [
        subprocess.Popen(
            [sys.executable, os.path.join(HERE, "setup_sample.py"), os.path.join(tmp, f"setup{i}")],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for i in range(n)
    ]


def finish_setup_sample(proc: subprocess.Popen) -> float:
    """Wait for a set-up sample to exit; return its seconds."""
    out, err = proc.communicate(timeout=150)
    if proc.returncode != 0:
        sys.stderr.write(err[-4000:])
        raise RuntimeError(f"set-up sample exited with code {proc.returncode}")
    return float(out.split()[-1])


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_session(spark) -> None:
    """Stop the session, then wait until the JVM and every process it
    started (the Python worker daemon and its workers) have exited."""
    from pyspark import SparkContext

    import workloads as W

    try:
        tree = W.process_tree(W.jvm_pid(spark))
    except Exception:  # the JVM is already gone
        tree = []
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    for pid in tree:
        while running(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if running(pid):
            os.kill(pid, signal.SIGKILL)


def running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def host_record(spark, nproc: int) -> dict:
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    sha = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True
        ).stdout.strip() or None
    return {
        "nproc": nproc,
        "mem_total_mb": round(mem_kb / 1024.0, 1),
        "git_sha": sha,
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
    }


def main() -> int:
    args = parse_args()
    if not os.path.isdir(os.path.join(ROOT, "neuronews_spark")):
        print("erbench: run from the root of a checkout (no neuronews_spark/ here)", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    tmp = os.path.join(ROOT, ".bench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    nproc = prepare_environment(tmp)

    import report
    import workloads as W

    wl = W.WORKLOADS.get(args.workload)
    if wl is None:
        print(f"erbench: unknown workload {args.workload!r}; known: {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    spark = None
    # set-up: process start to a warm session. A timed run makes
    # SETUP_SAMPLES set-ups at once, this process's and the samples'; one
    # after another they would cost about a fifth of the run's time.
    samples = [] if args.trace else start_setup_samples(tmp, SETUP_SAMPLES - 1)
    try:
        spark = start_session(tmp, trace=bool(args.trace))
        warm_up(spark)
        setup = [time.perf_counter() - T_PROCESS]
        setup += [finish_setup_sample(p) for p in samples]
        W.log("setup " + ", ".join(f"{x:.2f}s" for x in setup))
        host = host_record(spark, nproc)
        run = report.run_workload(W, spark, wl, args, tmp, setup)
        run["rss"] = jvm_peak_rss_mb(W.jvm_pid(spark))
        stop_session(spark)
        spark = None
        W.log("session stopped")
        result, record = report.finish(W, wl, args, run, nproc, tmp)
    finally:
        for p in samples:  # a sample stops its own JVM before it exits
            try:
                p.communicate(timeout=150)
            except subprocess.TimeoutExpired:
                p.kill()
                p.communicate()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:  # another run's directory is still there
            pass
    record["host"] = host
    # share of the machine's CPU time the hypervisor took from this VM
    # during the run (the 8th /proc/stat field): context for a slow run
    delta = [b - a for a, b in zip(JIFFIES_AT_START, cpu_jiffies())]
    record["host"]["steal_frac"] = delta[7] / max(1, sum(delta[:8]))
    print(json.dumps({"record": record}, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
