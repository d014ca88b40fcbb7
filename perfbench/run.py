"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 10 --trace 0

Runs one workload from the root of a checkout and prints, as the last
line of standard output, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end metrics of ``BENCHMARK.json``; with ``--trace 1`` they are the
per-layer metrics, from a run whose calls are tagged with Spark job
groups. A stamp line on standard error records cpus, size, seed and
whether the run was traced.

    python3 perfbench/run.py --workload ingest_index --seed 1 --seconds 10 --steady 5

runs the workload five times (seeds 1..5) in fresh processes and prints
each end-to-end metric's median, quartiles and spread against its bound.

Each run measures in a child process in a session of its own. The
parent becomes the subreaper of everything the child starts (the Spark
JVMs, the server process and their workers), so when the child ends, or
the run times out or is stopped, it stops every process left and waits
for each before it prints the child's result.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

CLASSES = ("read", "write", "maint")
RUN_TIMEOUT_S = 165  # a run must end within 180 s, clean-up included
STOP_GRACE_S = 15  # SIGTERM, then SIGKILL after this long
PR_SET_CHILD_SUBREAPER = 36
STOP_SIGNALS = (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)


def spec() -> dict:
    """``BENCHMARK.json``: the metric names, units and bounds."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _median_or_zero(values) -> float:
    from tracing import median

    values = [v for v in values if v is not None]
    return float(median(values)) if values else 0.0


def end_to_end(out: dict) -> dict[str, float]:
    """Per class the mean latency: a class has two to six samples a run,
    from one to three rounds or steps, and its median would be the value
    of a single round."""
    m = {"setup_s": out["setup_s"], "work_s": out["work_s"]}
    for cls in CLASSES:
        m[f"{cls}_mean_ms"] = statistics.mean(c["ms"] for c in out["calls"] if c["cls"] == cls)
    return m


def per_layer(out: dict) -> dict[str, float]:
    from ingest_index import SUITE
    from tracing import SPARK_FIELDS

    calls = out["calls"]
    m = {}
    for cls in CLASSES:
        spans = [c.get("span") or {} for c in calls if c["cls"] == cls]
        for f in SPARK_FIELDS:
            m[f"spark.{f}.{cls}"] = _median_or_zero(s.get(f) for s in spans)
        m[f"api.driver_ms.{cls}"] = _median_or_zero(s.get("driver_ms") for s in spans)
        for key in ("gets", "commits"):
            m[f"catalog.{key}.{cls}"] = _median_or_zero(s.get(f"catalog_{key}", 0) for s in spans)
        m[f"catalog.ms.{cls}"] = _median_or_zero(s.get("catalog_ms", 0.0) for s in spans)
    reads = [c.get("span") or {} for c in calls if c["cls"] == "read"]
    m["wal.tail_fragments.read"] = _median_or_zero(s.get("wal_fragments", 0) for s in reads)
    for cls in ("read", "write"):
        m[f"server.overhead_ms.{cls}"] = _median_or_zero(
            c.get("server_overhead_ms") for c in calls if c["cls"] == cls
        )
    suite_s = {c["op"]: c["ms"] / 1e3 for c in calls if c["cls"] == "suite"}
    for name in SUITE:
        m[f"suite.{name}_s"] = suite_s.get(name, 0.0)
    traced = sum((c.get("span") or {}).get("trace_ms", 0.0) for c in calls)
    m["trace.overhead_pct"] = 100.0 * traced / sum(c["ms"] for c in calls)
    return m


def detail(out: dict) -> dict:
    """Per-op sample counts, medians and the highest percentile with at
    least ten samples beyond it."""
    from tracing import median, percentile, tail_percentile

    ops: dict[str, list] = {}
    for c in out["calls"]:
        ops.setdefault(c["op"], []).append(c["ms"])
    rows = {}
    for op, ms in ops.items():
        row = {"n": len(ms), "p50_ms": round(median(ms), 3)}
        p = tail_percentile(len(ms))
        if p is not None and p > 50:
            row[f"p{p:g}_ms"] = round(percentile(ms, p), 3)
        rows[op] = row
    return rows


def result(out: dict, trace: bool) -> dict:
    """The result line: a failed check counts as a failed op and makes
    the run incorrect."""
    failed_checks = sum(not ok for ok in out["checks"])
    metrics = per_layer(out) if trace else end_to_end(out)
    units = {m["name"]: m["unit"] for m in spec()["per_layer" if trace else "end_to_end"]}
    return {
        "correct": failed_checks == 0 and out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": min(out["attempted"], out["failed"] + failed_checks),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def _env(work: str) -> None:
    """Keep Spark's scratch files inside the checkout and its JVM small."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def _cpu_steal_s() -> float:
    """Seconds of CPU time the host took from this machine so far (the
    ``steal`` column of ``/proc/stat``), or 0 where it is not exposed."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def run_once(args) -> int:
    work = os.path.join(ROOT, ".perfbench_work")
    _env(work)
    for name in os.listdir(work):  # stores a killed run left behind
        if name.startswith("store_"):
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)
    import importlib

    steal0 = _cpu_steal_s()
    out = importlib.import_module(args.workload).run(args.seed, args.seconds, bool(args.trace), work)
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "traced": bool(args.trace), "cpus": os.cpu_count(),
        "cpu_steal_s": round(_cpu_steal_s() - steal0, 2),
        **out["detail"], "ops": detail(out), "failures": out["failures"][:5],
    }
    print("# " + json.dumps(stamp, default=str), file=sys.stderr)
    if args.trace:
        spans = os.path.join(work, f"spans_{args.workload}_s{args.seed}.jsonl")
        with open(spans, "w") as f:
            for sp in out["spans"]:
                f.write(json.dumps(sp, default=str) + "\n")
        print(f"# spans: {spans}", file=sys.stderr)
    print(json.dumps(result(out, bool(args.trace))))
    return 0


def _children() -> list[int]:
    """Pids whose parent is this process, zombies included."""
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat[stat.rindex(")") + 2:].split()[1]) == me:
            out.append(int(name))
    return out


def _stop_all(group: int) -> None:
    """Stop the child's process group and every orphaned descendant,
    which the subreaper setting hands to this process, and reap each
    until none is left."""
    deadline = time.monotonic() + STOP_GRACE_S
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        left = _children()
        try:
            os.killpg(group, 0)
            group_alive = True
        except ProcessLookupError:
            group_alive = False
        if not left and not group_alive:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        if group_alive:
            with contextlib.suppress(ProcessLookupError):
                os.killpg(group, sig)
        for pid in left:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        time.sleep(0.05)


def _stopped(signum, _frame):
    for other in STOP_SIGNALS:  # a second signal must not cut the clean-up short
        signal.signal(other, signal.SIG_IGN)
    raise SystemExit(128 + signum)


def run_supervised(cmd: list[str], stdout, timeout: float) -> int | None:
    """Run ``cmd`` in a session of its own with this process as the
    subreaper of everything it starts. Return its exit code, or None when
    it ran past ``timeout``; either way every process it left is stopped
    and reaped first."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print("cannot become a subreaper: stray processes may outlive the run", file=sys.stderr)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=stdout, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"run took longer than {timeout} s: stopped", file=sys.stderr)
        return None
    finally:
        if proc.poll() is None:
            with contextlib.suppress(ProcessLookupError):
                os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        _stop_all(proc.pid)


def supervise(args) -> int:
    """Run the workload in a child process, then stop every process it
    left, and only then print its result."""
    if not os.path.isdir(os.path.join(ROOT, "chroma_spark")):
        print(f"no chroma_spark package under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    for signum in STOP_SIGNALS:
        signal.signal(signum, _stopped)
    out_path = os.path.join(work, f"result_{os.getpid()}.txt")
    try:
        with open(out_path, "w") as out:
            cmd = [sys.executable, os.path.abspath(__file__), *sys.argv[1:], "--child"]
            rc = run_supervised(cmd, out, RUN_TIMEOUT_S)
        if rc != 0:
            return rc if rc and rc > 0 else 1
        with open(out_path) as f:
            sys.stdout.write(f.read())
        return 0
    finally:
        with contextlib.suppress(OSError):
            os.remove(out_path)


def steady(args) -> int:
    """Run the workload ``args.steady`` times on consecutive seeds and
    print each metric's median, quartiles and spread against its bound."""
    bounds = {m["name"]: m["bound"] for m in spec()["end_to_end"]}
    values: dict[str, list] = {}
    for i in range(args.steady):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed + i), "--seconds", str(args.seconds), "--trace", "0"]
        t0 = time.time()
        res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
        line = json.loads(res.stdout.strip().splitlines()[-1])
        stamp = json.loads([x for x in res.stderr.splitlines() if x.startswith("# {")][-1][2:])
        print(f"run {i + 1}: {time.time() - t0:.1f} s wall, steal {stamp['cpu_steal_s']} s, "
              f"correct={line['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in line["metrics"].items()), flush=True)
        print("    " + " ".join(f"{op}={r['p50_ms']:.0f}" for op, r in stamp["ops"].items()))
        for failure in stamp["failures"]:
            print(f"    failed: {failure}")
        for k, v in line["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med
        bound = bounds.get(k)
        verdict = "steady" if spread <= bound / 3 else "within bound" if spread <= bound else "OVER"
        flag = "" if bound is None else f" bound {bound} ({verdict})"
        print(f"{k}: median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} spread {spread:.3f}{flag}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description="chroma_spark benchmark")
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec()["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0, help="run N times and report spreads")
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.steady:
        return steady(args)
    return run_once(args) if args.child else supervise(args)


if __name__ == "__main__":
    sys.exit(main())
