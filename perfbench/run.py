"""Benchmark driver: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload write_path --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds a SparkSession with the engine's own
factory on ``local[N]`` (N = usable cores), generates the workload's
inputs from ``--seed``, sets it up, then runs a fixed number of the
workload's blocks back to back and checks every output. The number of
blocks is ``--seconds`` divided by the workload's ``BLOCK_S`` (the
measured time of one block on a 4-core host), so a given ``--seconds``
runs the same work on every commit. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``; the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Lines above it report the workload's own named metrics and
the run's provenance. ``--workload all`` runs every workload in its own
process, one after the other. Each workload runs in a child process of
its own session; once it exits, this process stops whatever it left
running (the JVM, Python workers) and waits for each to end. Everything
is written under ``perfbench/out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
WORKLOADS = ("write_path", "read_mix")
DRIVER_MEM = "2g"
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # thread names, cut to 15 chars
PR_SET_CHILD_SUBREAPER = 36


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _tree() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields after the command name, for this process
    and all its descendants: the driver's Python, its JVM and the Python
    workers the JVM forks."""
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stats[int(d)] = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        if pid in stats:
            tree[pid] = stats[pid]
    return tree


class CpuMeter:
    """User plus system CPU seconds of the process tree, children it has
    reaped included, less the JVM's JIT compiler threads.

    Unlike wall time, it does not grow while the hypervisor runs other
    guests on these CPUs (steal); without the JIT threads it does not
    depend on how far background compilation has got. The JVM starts and
    stops compiler threads as it needs them, and a stopped thread's time
    stays in its process's total, so each one's last reading is kept."""

    def __init__(self):
        self._jit: dict[tuple[int, str], int] = {}

    def _read_jit(self, pid: int) -> None:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            return
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    name, rest = f.read().split("(", 1)[1].rsplit(")", 1)
            except OSError:
                continue
            if name.startswith(JIT_THREADS):
                self._jit[pid, tid] = sum(int(x) for x in rest.split()[11:13])

    def read(self) -> float:
        total = 0
        for pid, f in _tree().items():
            total += sum(int(x) for x in f[11:15])
            self._read_jit(pid)
        return total / os.sysconf("SC_CLK_TCK") - self.jit_s()

    def jit_s(self) -> float:
        """CPU seconds of the JIT compiler threads, as of the last read."""
        return sum(self._jit.values()) / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb() -> float:
    """Sum of peak RSS (VmHWM) over the process tree."""
    kb = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024


class Ctx:
    """What a workload gets: the session, its tracer, its seed and a
    private scratch directory."""

    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark, self.tracer, self.seed, self.work = spark, tracer, seed, work

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def run_ops(wl, n_ops: int, cpu: CpuMeter) -> dict:
    """Closed loop: the next operation starts when the previous one ends.

    An operation returns a checker; its latency and CPU time exclude the
    check. A raised exception or a failed check counts as a failed
    operation."""
    wl.start()
    recs: list[dict] = []
    t_loop = time.perf_counter()
    for done in range(n_ops):
        kind, op = wl.next_op()
        c0 = cpu.read()
        t0 = time.perf_counter()
        try:
            check = op()
            dt, cpu_s = time.perf_counter() - t0, cpu.read() - c0
            ok = bool(check())
        except Exception as e:  # a failed operation, not a failed run
            dt, cpu_s, ok = time.perf_counter() - t0, cpu.read() - c0, False
            print(f"op {kind} failed: {type(e).__name__}: {e}"[:400], file=sys.stderr)
        if not ok:
            print(f"op {kind} #{done}: wrong output", file=sys.stderr)
        print(f"op {kind} #{done}: {dt * 1e3:.0f} ms, {cpu_s * 1e3:.0f} ms CPU", file=sys.stderr)
        recs.append({"kind": kind, "s": dt, "cpu_s": cpu_s, "ok": ok})
    return {"recs": recs, "wall_s": time.perf_counter() - t_loop}


def end_to_end(setup_s: float, loop: dict) -> dict:
    """The JSON result's metrics. Wall-time latency moves with how busy the
    host is (run-to-run spread well above 20% on a shared 4-core VM), so it
    is printed but not bounded; CPU time per operation is."""
    ok = [r for r in loop["recs"] if r["ok"]]
    return {
        "setup_s": (setup_s, "s"),
        "cpu_ms_per_op": (sum(r["cpu_s"] for r in ok) / max(1, len(ok)) * 1e3, "ms"),
    }


def latency(loop: dict) -> dict:
    lat = [r["s"] for r in loop["recs"] if r["ok"]] or [float("nan")]
    return {
        "op_p50_ms": (statistics.median(lat) * 1e3, "ms"),
        "ops_per_s": (len(lat) / sum(lat), "1/s"),
    }


def provenance(args, cpus: int, blocks: int, steal0: int) -> dict:
    import bench

    head = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True
        ).stdout.strip()
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "blocks": blocks,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "master": f"local[{cpus}]",
        "driver_memory": DRIVER_MEM,
        "steal_s": (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK"),
        "head_sha": head,
        "sources_sha": bench.bench_sources_sha(),
    }


def _env(work: str) -> None:
    """Keep every file the engine and Spark write inside the work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # -XX:-UsePerfData: a JVM would otherwise keep its counters under
    # /tmp/hsperfdata_<user>, whatever java.io.tmpdir says; that includes
    # the short-lived launcher JVM spark-submit starts first
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.driver.extraJavaOptions='{java_opts}' "
        f"--conf spark.executor.extraJavaOptions='{java_opts}' "
        "pyspark-shell"
    )
    tempfile.tempdir = None  # re-read TMPDIR


def _session(sid: int) -> list[int]:
    """Processes of session ``sid`` and descendants of this one, unreaped
    zombies included: a JVM whose main thread has exited shows as a zombie
    while its other threads still run its shutdown hooks."""
    mine = set(_tree()) - {os.getpid()}
    left = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == sid or int(d) in mine:
                left.append(int(d))
    return left


def _reap() -> None:
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                return
        except ChildProcessError:
            return


def _stop_session(sid: int) -> None:
    """Stop what the workload process left behind and wait until it has
    ended: the JVM outlives its Python driver by a few seconds, and so do
    the Python workers it forks (they leave the driver's process group, not
    its session). As a subreaper this process inherits every orphan, so it
    reaps them all: a process has ended once it is reaped."""
    t0 = time.monotonic()
    while True:
        _reap()
        left = _session(sid)
        if not left or time.monotonic() - t0 > 30:
            break
        sig = signal.SIGTERM if time.monotonic() - t0 < 10 else signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
    for pid in left:
        print(f"process {pid} did not end", file=sys.stderr)


def supervise(args, workload: str) -> tuple[int, str]:
    """Run one workload in a process of its own session; return its exit
    code and stdout once it and everything it started have ended."""
    cmd = [sys.executable, os.path.abspath(__file__), "--child", "--workload", workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace)]
    os.makedirs(OUT, exist_ok=True)
    with tempfile.TemporaryFile("w+", dir=OUT) as out:
        proc = subprocess.Popen(cmd, stdout=out, start_new_session=True)
        try:
            proc.wait()
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            _stop_session(proc.pid)
            shutil.rmtree(os.path.join(OUT, f"work-{proc.pid}"), ignore_errors=True)
        out.seek(0)
        return proc.returncode, out.read()


def _on_term(signum, _frame):
    raise SystemExit(128 + signum)


def run_all(args) -> int:
    """Each workload in its own process; one summary line at the end."""
    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        code, out = supervise(args, name)
        sys.stdout.write(out)
        if code != 0:
            return code
        res = json.loads(out.strip().splitlines()[-1])
        summary["correct"] &= res["correct"]
        summary["attempted"] += res["attempted"]
        summary["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            summary["metrics"][f"{name}.{k}"] = v
    print(json.dumps(summary))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    help="run length; BENCHMARK.json's run_seconds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not args.child:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
        signal.signal(signal.SIGTERM, _on_term)
        signal.signal(signal.SIGINT, _on_term)
        if args.workload == "all":
            return run_all(args)
        code, out = supervise(args, args.workload)
        sys.stdout.write(out)
        return code
    return run_one(args)


def _stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None or getattr(gateway, "proc", None) is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def run_one(args) -> int:
    t_start = time.perf_counter()
    steal0 = steal_ticks()
    cpus = len(os.sched_getaffinity(0))
    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401  (provenance reads its sources hash)
        from bigdataindexing_spark.session import get_spark
    except ImportError as e:
        print(f"engine package not found next to perfbench/: {e}", file=sys.stderr)
        return 2
    work = os.path.join(OUT, f"work-{os.getpid()}")
    _env(work)

    import layers
    import spans as spans_mod

    wl_mod = __import__(args.workload)
    blocks = max(1, round(args.seconds / wl_mod.BLOCK_S))
    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cpus)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        # the small-data knobs bench.py applies at sf <= 0.1
        spark.conf.set("spark.sql.shuffle.partitions", str(cpus))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
        session_s = time.perf_counter() - t_start

        tracer = spans_mod.Tracer(spark, enabled=bool(args.trace))
        ctx = Ctx(spark, tracer, args.seed, work)
        wl = wl_mod.Workload(ctx)
        n_ops = blocks * wl.block_len
        # set-up: input generation, the one-time store builds, warm-up
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0
        with tracer.span("setup"):
            t0 = time.perf_counter()
            wl.build()
            build_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            wl.warm()
            warm_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_start
        cpu = CpuMeter()
        setup_cpu_s = cpu.read()
        tracer.enabled = False
        trace_failed = final_checks = failed_checks = 0
        if args.trace:
            # the same operation sequence twice (start() rewinds it):
            # untraced, then traced; the wall-time difference is the
            # tracing overhead
            plain = run_ops(wl, n_ops, cpu)
            final_checks, failed_checks = 1, bool(wl.finish())
            tracer.enabled = True
            with tracer.span("run"):
                loop = run_ops(wl, n_ops, cpu)
            tracer.enabled = False
        else:
            loop = run_ops(wl, n_ops, cpu)
        final_checks, failed_checks = final_checks + 1, failed_checks + bool(wl.finish())
        peak = tree_peak_rss_mb()
        prov = provenance(args, cpus, blocks, steal0)
        detail = wl.report(loop["recs"])
        if args.trace:
            spans = tracer.finish()
            values = layers.layer_values(
                spans, wl.layer_extra(), loop["wall_s"] - plain["wall_s"], tracer.bookkeeping_s
            )
            metrics = layers.per_layer(values)
            problems = spans_mod.check(spans, "run") + layers.missing(values, args.workload)
            for p in problems:
                print(f"trace: {p}", file=sys.stderr)
            trace_failed = len(problems)
            os.makedirs(OUT, exist_ok=True)
            tracer.write(
                os.path.join(OUT, f"trace_{args.workload}_seed{args.seed}.json"),
                {"provenance": prov, "per_layer": metrics, "untraced_wall_s": plain["wall_s"],
                 "traced_wall_s": loop["wall_s"]},
            )
            detail["trace.overhead_s"] = metrics["trace.overhead_s"]
        else:
            metrics = end_to_end(setup_s, loop)
            detail.update({
                **latency(loop),
                "session_s": (session_s, "s"),
                "generate_s": (gen_s, "s"),
                "build_s": (build_s, "s"),
                "warm_s": (warm_s, "s"),
                "setup_cpu_s": (setup_cpu_s, "s"),
                "jit_cpu_s": (cpu.jit_s(), "s"),
                "peak_rss_mb": (peak, "MB"),
            })
        # each end-of-run check of the final state counts as one operation,
        # and so does the check of the trace
        recs = loop["recs"] + (plain["recs"] if args.trace else [])
        attempted = len(recs) + wl.setup_checks + final_checks + args.trace
        failed = (sum(not r["ok"] for r in recs) + wl.setup_failed
                  + failed_checks + (trace_failed > 0))
        detail["failed_frac"] = (failed / attempted, "ratio")
        for name, (value, unit) in detail.items():
            print(f"{args.workload} {name} = {value} {unit}")
        print("provenance " + json.dumps(prov))
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
