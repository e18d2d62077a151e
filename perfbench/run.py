"""Layered benchmark for syslog_ng_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--smoke]

Run from the repository root (the directory holding `syslog_ng_spark/`
and `BENCHMARK.json`): Spark's Python workers import the package from
the current directory. Inputs are generated from --seed into
`.perfbench/` under the current directory, which also holds Spark's
scratch space and the full result of every run (`.perfbench/results/`).

The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}; with --trace 0 the metrics are BENCHMARK.json's end_to_end
list, with --trace 1 its per_layer list. The line before it records
the host context. Exit code 2 means the benchmark could not run here.

The run itself happens in a child process. This process is a child
subreaper (Linux): when the child ends, it stops every process the run
left behind (the Spark JVM, Python workers) and waits for each, so none
outlives the command, also on a failure, a timeout or a SIGTERM.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "4")
# set-ups per run: the first launches the JVM (about 10 s, reported as
# setup_cold_s); setup_s is the median of the WARM_SETUPS after it
WARM_SETUPS = 3
CHILD_ENV = "PERFBENCH_CHILD"
CHILD_TIMEOUT_S = 170  # the whole command must end within 180 s
REAP_GRACE_S = 10.0  # SIGTERM, then SIGKILL after this long


def cpu_probe() -> float:
    """Seconds for a fixed single-core job (sha256 over 64 MiB)."""
    buf = b"\xa5" * (1 << 20)
    h = hashlib.sha256()
    t0 = time.perf_counter()
    for _ in range(64):
        h.update(buf)
    h.digest()
    return time.perf_counter() - t0


def git_commit() -> str | None:
    try:
        proc = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return proc.stdout.strip() if proc.returncode == 0 else None


def source_digest() -> str:
    """Digest of the program's sources: identifies the code measured
    also where the checkout carries no git metadata."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "syslog_ng_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def workloads():
    from catalog_eager import CatalogEager
    from logpath import LogpathBatch, LogpathStream

    return {"logpath_batch": LogpathBatch, "logpath_stream": LogpathStream,
            "catalog_eager": CatalogEager}


def spark_env(work: Path) -> None:
    """Keep the JVM's scratch and temp files inside the run directory."""
    local, tmp = work / "spark-local", work / "tmp"
    local.mkdir(parents=True)
    tmp.mkdir()
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dderby.system.home={tmp}" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it. PySpark leaves the JVM to
    exit by itself once the Python process is gone, which it does only a
    moment later; closing its stdin is the gateway's signal to exit now,
    and the wait makes sure it has."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=REAP_GRACE_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def descendants() -> list[int]:
    """Live (not zombie) processes below this one, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            stat = Path(f"/proc/{name}/stat").read_text()
        except OSError:
            continue
        state, ppid = stat[stat.rindex(")") + 2:].split()[:2]
        if state != "Z":
            children.setdefault(int(ppid), []).append(int(name))
    found, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        found += kids
        todo += kids
    return found


def reap_zombies() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_all() -> int:
    """SIGTERM every descendant, SIGKILL it if it is still there after
    REAP_GRACE_S, and reap each; as the subreaper this process inherits
    the orphans of those it stops. Returns how many it had to stop."""
    first_signal: dict[int, float] = {}
    while True:
        reap_zombies()
        alive = descendants()
        if not alive:
            return len(first_signal)
        now = time.monotonic()
        for pid in alive:
            since = first_signal.setdefault(pid, now)
            sig = signal.SIGKILL if now - since > REAP_GRACE_S else signal.SIGTERM
            if since == now or sig == signal.SIGKILL:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def supervise(argv: list[str]) -> int:
    """Run the benchmark in a child, then stop whatever it left running."""
    try:
        # PR_SET_CHILD_SUBREAPER: orphaned descendants are re-parented here
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass

    def on_signal(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    code = 1
    try:
        child = subprocess.Popen([sys.executable, str(Path(__file__).resolve()), *argv],
                                 env=dict(os.environ, **{CHILD_ENV: "1"}))
        code = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"the run took longer than {CHILD_TIMEOUT_S} s; stopped", file=sys.stderr)
    finally:
        left = stop_all()
    if left:
        print(f"stopped {left} process(es) the run left behind", file=sys.stderr)
    return code


def main() -> int:
    if os.environ.get(CHILD_ENV) != "1":
        return supervise(sys.argv[1:])
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the smoke test")
    ap.add_argument("--rate", type=int, help="logpath_stream: offered rows/s, for capacity probes")
    args = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not (ROOT / "syslog_ng_spark" / "__init__.py").is_file() or not spec_path.is_file():
        print("run from the repository root: syslog_ng_spark/ and BENCHMARK.json not found "
              f"in {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads(spec_path.read_text())
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    try:
        kinds = workloads()
        from syslog_ng_spark.session import get_session
        from sparkstats import jvm_peak_rss_mb
    except ImportError as exc:
        print(f"cannot import the program: {exc}", file=sys.stderr)
        return 2
    if args.workload not in kinds:
        print(f"unknown workload {args.workload!r}; one of {sorted(kinds)}", file=sys.stderr)
        return 2

    context = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": args.trace, "smoke": args.smoke, "rate": args.rate, "cpus": int(CPUS),
               "loadavg_start": os.getloadavg(), "cpu_probe_s": cpu_probe(),
               "commit": git_commit(), "source_digest": source_digest()}
    work = ROOT / ".perfbench" / f"run-{os.getpid()}-{args.workload}"
    shutil.rmtree(work, ignore_errors=True)
    spark_env(work)
    wl = kinds[args.workload](work, args.seed, args.seconds, args.smoke, bool(args.trace))
    if args.rate:
        wl.rate = args.rate
    spark = None
    try:
        wl.prepare()
        setups = []
        for _ in range(1 + WARM_SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_session(f"perfbench-{args.workload}", cpus=CPUS)
            spark.sparkContext.setLogLevel("ERROR")
            wl.warmup(spark)
            setups.append(time.perf_counter() - t0)
        result = wl.measure(spark)
        result["metrics"]["setup_s"] = statistics.median(setups[1:])
        result["metrics"]["setup_cold_s"] = setups[0]
        result["metrics"]["peak_rss_mb"] = jvm_peak_rss_mb(spark)
        if args.trace:
            result["metrics"]["failed_frac"] = result["failed"] / result["attempted"]
        context["setup_runs_s"] = setups
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    context["loadavg_end"] = os.getloadavg()

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = result["metrics"]
    # a count of a layer this workload does not run reads 0; every time
    # and every end-to-end metric must have been measured
    missing = [m["name"] for m in wanted if m["name"] not in got
               and (not args.trace or m["unit"] in ("s", "ms"))]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    metrics = {m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    line = {"correct": result["failed"] == 0, "attempted": int(result["attempted"]),
            "failed": int(result["failed"]), "metrics": metrics}
    full = {"context": context, "result": line, "all_metrics": got,
            "detail": result.get("detail", {})}
    out_dir = ROOT / ".perfbench" / "results"
    out_dir.mkdir(parents=True, exist_ok=True)
    (out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(full, indent=1, default=str) + "\n")
    print(json.dumps({"context": context}, default=str))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
