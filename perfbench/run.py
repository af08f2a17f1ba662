"""Benchmark launcher: one workload, one long-lived SparkSession, one client.

    python3 perfbench/run.py --workload fhir --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` (ops) and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end ones declared in
``BENCHMARK.json``; with ``--trace 1`` the per-layer ones.

A run: start the session, build the inputs, run the workload's warm-up
passes (``RUNTIME``; pass time has stopped falling by then), then time
whole passes until ``--seconds`` have gone by (at least ``MIN_TIMED_PASSES``).
The medians are taken over the passes during which the hypervisor stole
(next to) no CPU time, or failing that over the least disturbed ones.
After every pass, outside the timer, results are checked, leaked
persisted RDDs and ``pofs_*`` scratch directories are counted and then
released, and the JVM heap still in use after a full garbage collection
is read.

Everything the run writes lives under ``.perfbench_tmp/<pid>`` in the
checkout (``TMPDIR``, ``SPARK_LOCAL_DIRS``, warehouse), removed at exit;
traced runs also write their spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DRIVER_MEM = "2g"
MIN_TIMED_PASSES = 3


class Runtime(NamedTuple):
    cpus: int  # local[k], and the run (launcher, JVM, Python workers) pinned to k vCPUs
    jvm_opts: str  # extra driver JVM options
    warmup_passes: int


# Both workloads are pinned to fewer vCPUs than the VM has. When the host
# is contended, a VM that keeps all 4 vCPUs busy loses much of their time
# to other guests, and thread hand-offs wait for halted vCPUs to be
# scheduled again: at 5-7 CPU-s stolen per pass, passes on 4 vCPUs took
# twice as long as on a quiet host. In the same minutes fhir passes
# pinned to one vCPU were 15% slower than quiet ones, and analytics
# passes pinned to two vCPUs 20% slower, with little steal on the pinned
# vCPUs. Heavier contention still reaches pinned vCPUs: analytics passes
# with 2 CPU-s stolen took 6.5-7 s.
# fhir: a few dozen small Spark jobs and many py4j calls, using 1.2 cores
# on average, so one vCPU costs it little. With C2 its JIT never settled
# within a run (1.5-2.8 CPU-s of compilation per pass after 17 passes;
# runs of one commit differed by 10% in pass time and 19% in CPU time with
# how far it had got); at C1 compilation settles by the third pass.
# analytics: compute-bound operators and Python workers using about 2
# cores (9.6 s a pass on one vCPU). At C1 its passes were slower and no
# steadier, as it loads new generated classes every pass either way.
# Warm-up: three passes. After them fhir pass time has stopped falling;
# analytics passes still fall by up to 10% over the next two, which the
# median of the timed passes mostly absorbs (a fourth warm-up pass cost
# 6 s a run, and a full benchmark round has to fit its time budget). A
# fixed count, rather than a rule that watches pass time, keeps the JIT
# state at the first timed pass alike from run to run: on a host whose
# other tenants steal CPU time, such a rule ended the warm-up anywhere
# from the second to the sixth pass.
RUNTIME = {
    "fhir": Runtime(1, "-XX:TieredStopAtLevel=1", 3),
    "analytics": Runtime(2, "", 3),
}
# A timed pass during which the hypervisor gave other guests more than
# this many CPU seconds per wall second of the vCPUs the run is pinned to
# is disturbed: it is run, checked and counted, but its times are left
# out of the medians. On a shared host such bursts last tens of seconds
# and made single passes up to twice as slow; a fhir pass with 0.2 CPU-s
# stolen (0.05 per wall second) was already 15% slower than its
# neighbours, while undisturbed passes lose under 0.02 per wall second.
# If fewer than MIN_TIMED_PASSES timed passes are undisturbed, the
# MIN_TIMED_PASSES least disturbed ones count.
STEAL_MAX = 0.03


# -- process tree accounting (/proc) ---------------------------------------------
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state): ppid=4, utime..cstime=14..17
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def tree_pids(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                ppid, _ = _stat(int(d))
            except (OSError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s() -> float:
    """utime+stime of this process and its live descendants, plus the
    children each has reaped."""
    total = 0
    for p in tree_pids(os.getpid()):
        try:
            total += _stat(p)[1]
        except (OSError, ValueError):
            pass
    return total / _TICK


def tree_hwm_kb() -> dict[str, int]:
    """VmHWM (kB) of each process in the tree, keyed by ``pid:name``."""
    out = {}
    for p in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{p}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
            out[f"{p}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0])
        except (OSError, KeyError):
            pass
    return out


def steal_s(cpus) -> float:
    """CPU seconds, summed over the given vCPUs since boot, that the
    hypervisor gave to other guests while these vCPUs had work to run."""
    total = 0
    with open("/proc/stat") as fh:
        for line in fh:
            fields = line.split()
            if fields[0].startswith("cpu") and fields[0][3:] in cpus:
                total += int(fields[8])
    return total / _TICK


def reset_hwm() -> None:
    """Restart VmHWM of every process in the tree at its current RSS, so
    that the peak counts the timed passes only."""
    for p in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{p}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


# -- hygiene ------------------------------------------------------------------------
def prepare_env(run_root: str, traced: bool, rt: Runtime) -> None:
    tmp, local = os.path.join(run_root, "tmp"), os.path.join(run_root, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    # no hsperfdata file: the JVM would write it to /tmp
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # The heap is made resident up front, as it is in a session that has
    # run for a while: otherwise the peak RSS follows G1's adaptive young
    # generation sizing, which varied 1.3-1.9 GB between runs of one commit.
    driver_opts = f"{jvm_opts} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch {rt.jvm_opts}"
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir={run_root}/warehouse",
        f"spark.driver.extraJavaOptions={driver_opts}",
    ]
    if traced:
        # keep every job and stage of a pass in the status store
        conf += ["spark.ui.retainedJobs=100000", "spark.ui.retainedStages=100000"]
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(rt.cpus),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LAUNCHER_OPTS=jvm_opts,
        PYSPARK_SUBMIT_ARGS=" ".join(f"--conf {shlex.quote(c)}" for c in conf) + " pyspark-shell",
    )
    sys.path[:0] = [ROOT, HERE]


def stop_spark(spark) -> None:
    """Stop the session (if it started), the JVM and every process they
    started, and wait for each to end."""
    from pyspark import SparkContext

    pids = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    if spark is not None:
        try:
            spark.stop()
        except Exception:  # a signal can leave py4j unusable; the JVM is stopped below
            traceback.print_exc()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    for p in pids:
        while os.path.exists(f"/proc/{p}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    for p in pids:
        try:
            os.waitpid(p, os.WNOHANG)
        except ChildProcessError:
            pass


class Ctx:
    def __init__(self, spark, root, seed, tracer):
        self.spark, self.root, self.seed, self.tracer = spark, root, seed, tracer


class Leaks:
    """Counts, then releases, what a pass left behind: persisted RDDs
    and ``pofs_*`` scratch directories that did not exist before the
    first pass."""

    def __init__(self, spark, tmp: str):
        self.spark, self.tmp = spark, tmp
        rdds, self.keep_dirs = self._state()
        self.keep_rdds = {int(k) for k in rdds.keySet()}

    def _state(self):
        rdds = self.spark.sparkContext._jsc.getPersistentRDDs()
        return rdds, {d for d in os.listdir(self.tmp) if d.startswith("pofs_")}

    def release(self) -> dict:
        rdds, dirs = self._state()
        new_rdds = [rdds.get(k) for k in rdds.keySet() if int(k) not in self.keep_rdds]
        new_dirs = sorted(dirs - self.keep_dirs)
        self.spark.catalog.clearCache()
        for rdd in new_rdds:
            rdd.unpersist(True)
        for d in new_dirs:
            shutil.rmtree(os.path.join(self.tmp, d), ignore_errors=True)
        return {"leak.persisted_rdds": len(new_rdds), "leak.scratch_dirs": len(new_dirs)}


def run_op(name, run, check, tracer):
    t0 = time.perf_counter()
    with tracer.span(f"op.{name}", "op"):
        try:
            out = name, run(), None, check
        except Exception as exc:  # a failed op is counted, never timed
            traceback.print_exc()
            out = name, None, repr(exc), check
    print(f"  {name} {time.perf_counter() - t0:.3f}s", file=sys.stderr)
    return out


def run_pass(ops, tracer):
    """One pass, every op in order. Returns (wall_s, cpu_s,
    [(name, result, error, check)])."""
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    with tracer.span("pass", "pass"):
        results = [run_op(*op, tracer) for op in ops]
    wall = time.perf_counter() - t0
    return wall, tree_cpu_s() - cpu0, results


def heap_live_mb(spark) -> float:
    """JVM heap in use after a full garbage collection: the state the
    session keeps between passes."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 2**20


def check_results(results) -> int:
    failed = 0
    for name, res, err, check in results:
        if err is None:
            try:
                err = check(res)
            except Exception as exc:
                err = f"{name}: checker raised {exc!r}"
        if err is not None:
            failed += 1
            print(f"FAILED {name}: {err}", file=sys.stderr)
    return failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload not in RUNTIME:
        ap.error(f"unknown workload {args.workload!r}")
    rt = RUNTIME[args.workload]
    t_start = time.perf_counter()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    # a terminated run still stops Spark and removes its files (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_root = os.path.join(ROOT, ".perfbench_tmp", str(os.getpid()))
    prepare_env(run_root, bool(args.trace), rt)
    # the JVM and Python workers inherit the pinning
    os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[-rt.cpus :])
    cpus_used = {str(c) for c in os.sched_getaffinity(0)}
    # Spark and py4j print to fd 1; keep stdout for the result line only.
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    spark = None
    try:
        from spans import Tracer
        from workloads import WORKLOADS

        tracer = Tracer()
        if args.trace:
            import parquet_on_fhir_spark.suite  # noqa: F401  (bind every re-imported name)

            parquet_on_fhir_spark.suite.all_queries()
            tracer.install()
            tracer.enabled = True

        from parquet_on_fhir_spark.session import get_session

        t0 = time.perf_counter()
        spark = get_session("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        tracer.sc = spark.sparkContext
        tracer.enabled = False

        ctx = Ctx(spark, run_root, args.seed, tracer)
        wl = WORKLOADS[args.workload](ctx)
        t0 = time.perf_counter()
        wl.setup()
        build_s = time.perf_counter() - t0
        ops = wl.ops()
        leaks = Leaks(spark, os.environ["TMPDIR"])

        # Warm-up: the first-run cost (JIT, code generation, class
        # loading, Python workers) falls over several passes.
        t0 = time.perf_counter()
        failed_warm = 0
        for _ in range(rt.warmup_passes):
            wall, _, res = run_pass(ops, tracer)
            failed_warm += check_results(res)
            leaks.release()
            wl.after_pass()
            print(f"warm-up pass: {wall:.3f}s wall", file=sys.stderr)
        warm_s = time.perf_counter() - t0
        reset_hwm()
        setup_s = time.perf_counter() - t_start
        print(
            f"setup: {setup_s:.2f}s; session {session_s:.2f}s, build {build_s:.2f}s, "
            f"warm-up {warm_s:.2f}s",
            file=sys.stderr,
        )

        # Timed passes. A traced run alternates traced and untraced passes
        # (T U T ...), so that warm-up drift cancels out of trace.overhead.
        heaps, traced_walls, layer = [], [], []
        # (steal per wall second, wall s, cpu s) of each untraced pass
        good, failed_passes = [], []
        attempted = failed = n_quiet = 0
        t_timed = time.perf_counter()
        hwm = {}
        n = 0
        while time.perf_counter() - t_timed < args.seconds or n < MIN_TIMED_PASSES:
            tracing = bool(args.trace) and n % 2 == 0
            tracer.enabled = tracing
            st0 = steal_s(cpus_used)
            wall, cpu, res = run_pass(ops, tracer)
            stolen = steal_s(cpus_used) - st0
            tracer.enabled = False
            bad = check_results(res)
            attempted += len(res)
            failed += bad
            left = leaks.release()
            if tracing:
                m = tracer.pass_metrics(tracer.roots[-1])
                m.update(left)
                m.update(wl.layer_counts())
                layer.append(m)
                traced_walls.append(wall)
            else:
                (good if bad == 0 else failed_passes).append((stolen / wall, wall, cpu))
                n_quiet += bad == 0 and stolen <= STEAL_MAX * wall
            wl.after_pass()
            heaps.append(heap_live_mb(spark))
            for k, v in tree_hwm_kb().items():
                hwm[k] = max(hwm.get(k, 0), v)
            n += 1
            print(
                f"pass {n}: {wall:.3f}s wall, {cpu:.3f}s cpu, {stolen:.2f}s stolen, "
                f"heap {heaps[-1]:.1f} MB, traced={tracing}",
                file=sys.stderr,
            )

        print(f"VmHWM kB: {hwm}", file=sys.stderr)
        correct = failed == 0 and failed_warm == 0 and bool(good)
        # least stolen first; if every untraced pass failed, report those, flagged wrong
        counted = sorted(good or failed_passes)[: max(n_quiet, MIN_TIMED_PASSES)]
        if n_quiet < MIN_TIMED_PASSES:
            print(f"{n_quiet} undisturbed passes; counted the least disturbed", file=sys.stderr)
        walls = [w for _, w, _ in counted]
        cpus = [c for _, _, c in counted]
        if args.trace:
            metrics = {}
            for name in units:
                vals = [m.get(name, 0.0) for m in layer]
                metrics[name] = statistics.median(vals) if vals else 0.0
            metrics["session.get_session.s"] = sum(
                s.dur for s in tracer.setup_spans if s.name == "session.get_session"
            )
            metrics["trace.overhead"] = statistics.median(traced_walls) / statistics.median(walls)
            metrics["jvm.heap_live_mb"] = statistics.median(heaps)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
            with open(os.path.join(out_dir, f"layers-{args.workload}-{args.seed}.json"), "w") as fh:
                json.dump({"passes": layer, "untraced_pass_s": walls}, fh, indent=1)
            for name in sorted({k for m in layer for k in m} - set(units)):
                print(f"measured but not declared: {name}", file=sys.stderr)
        else:
            metrics = {
                "setup_s": setup_s,
                "pass_s": statistics.median(walls),
                "cpu_s": statistics.median(cpus),
                "peak_rss_mb": sum(hwm.values()) / 1024,
            }
        out = {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }
    finally:
        try:
            if "pyspark" in sys.modules:
                stop_spark(spark)
        finally:
            shutil.rmtree(run_root, ignore_errors=True)
            tmp_parent = os.path.dirname(run_root)
            if os.path.isdir(tmp_parent) and not os.listdir(tmp_parent):
                os.rmdir(tmp_parent)
    result_out.write(json.dumps(out) + "\n")
    result_out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
