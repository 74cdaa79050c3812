"""Build / serve / update benchmark for search_engine_spark.

Run from the repository root:

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
(and writes the spans to --spans if given).  The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
The exit code is 0 only when a result was printed; it is 2 when the
program under test cannot be imported.

The run itself happens in a child process.  This process makes itself
the child subreaper of everything the run starts and returns only once
all of it has ended: orphans such as multiprocessing's resource tracker
or Spark's Python daemon would otherwise outlive the run by a moment.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# set in the child process that does the run
WORKER_ENV = "PERFBENCH_WORKER"

# workloads.PROFILES has the same names; it can only be imported once the
# program is known to be importable
WORKLOADS = ("build", "update")


def _cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def start_spark(work: str):
    """A local session with no more task slots than usable cores, all
    scratch space inside the run's work directory."""
    from search_engine_spark.session import get_spark

    cores = _cores()
    local = os.path.join(work, "spark-local")
    tmp = os.environ["TMPDIR"]
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no JVM perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit; the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="write the traced run's spans to this JSON file")
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import search_engine_spark.index.builder  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {root}: {e}", file=sys.stderr)
        return 2
    import layers
    from workloads import Run

    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    spark = None
    phases = {}
    t_start = time.perf_counter()

    def phase(name, t0):
        phases[name] = round(time.perf_counter() - t0, 1)
        return time.perf_counter()

    try:
        t = time.perf_counter()
        run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
        # boot Spark in a thread while the inputs are generated and
        # analysed in worker processes
        with multiprocessing.get_context("spawn").Pool(_cores()) as pool:
            boot: dict = {}

            def start():
                try:
                    boot["spark"] = start_spark(work)
                except BaseException as e:  # re-raised below
                    boot["error"] = e

            th = threading.Thread(target=start)
            th.start()
            try:
                run.prepare(pool)
            finally:
                pool.close()
                pool.join()
                th.join()
        spark = boot.get("spark")
        if spark is None:
            raise boot.get("error") or RuntimeError("Spark did not start")
        spark.sparkContext.setLogLevel("ERROR")
        run.attach(spark, spark.sparkContext._gateway.proc.pid)
        t = phase("inputs+session", t)
        run.setup()
        t = phase("setup", t)
        run.timed()
        t = phase("timed", t)
        if args.trace:
            run.probe()
            t = phase("probe", t)
        run.check()
        t = phase("check", t)
        if args.trace:
            metrics = layers.per_layer(run)
            run.tr.write(args.spans)
        else:
            metrics = run.end_to_end()
        for e in run.errors + run.check_errors:
            print(f"perfbench: {e}", file=sys.stderr)
        print(f"perfbench: {args.workload} seed={args.seed} rounds={run.rounds} "
              f"attempted={run.attempted} failed={run.failed} phases_s={phases}", file=sys.stderr)
        result = {
            "correct": not run.check_errors,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            t = time.perf_counter()
            stop_spark(spark)
            print(f"perfbench: stop {time.perf_counter() - t:.1f}s, "
                  f"total {time.perf_counter() - t_start:.1f}s", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work directory is still there
            pass
    print(json.dumps(result))
    return 0


def _children() -> list:
    me = os.getpid()
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # "pid (comm) state ppid ..."; comm may hold spaces and parens
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(d))
    return out


def reap_all(grace: float = 20.0) -> None:
    """Wait until this process has no children left.  Those still alive
    `grace` seconds on are sent SIGTERM, and SIGKILL 5 s after that."""
    deadline = time.monotonic() + grace
    sig = None
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        now = time.monotonic()
        if now > deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            for c in _children():
                try:
                    os.kill(c, sig)
                except ProcessLookupError:
                    pass
            deadline = now + 5
        time.sleep(0.02)


def supervise(argv) -> int:
    """Run main() in a child and wait for every process below it."""
    try:
        import ctypes

        PR_SET_CHILD_SUBREAPER = 36
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):  # not Linux: only the child is waited for
        pass
    env = dict(os.environ, **{WORKER_ENV: "1"})
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv], env=env)
    try:
        return child.wait()
    except BaseException:
        child.kill()
        raise
    finally:
        reap_all()


if __name__ == "__main__":
    if os.environ.get(WORKER_ENV):
        sys.exit(main())
    sys.exit(supervise(sys.argv[1:]))
