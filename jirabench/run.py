"""Benchmark entry point: the reference Jira job end to end.

    python3 jirabench/run.py --workload etl_curate --seed 1 --seconds 40 --trace 0

Run from the repository root. Generates the workload's seeded inputs,
sets up a local Spark session with one core per available CPU, runs the
workload in a closed loop (one client: the next call starts when the
previous one returned) for its fixed number of iterations (the cold one
and one warm one, about 35 s; ``--seconds`` is accepted for the common
benchmark interface but does not change the count), checks every
iteration's output outside the timed region, and prints one JSON line as
the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (set-up time, peak RSS, and
the CPU seconds of the warm and of the cold iteration); ``--trace 1`` runs the same
loop with spans around each call into the package (every other iteration,
so the untraced ones give the tracing overhead) and reports the per-layer
metrics, writing the spans to ``.jirabench_out/``. All scratch files live
under ``.jirabench_work/`` in the repository root and are removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
import zlib

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "2g"
# CPU seconds the reference loop takes on the reference core; time metrics
# are scaled to a core of that speed (see ReferenceLoop)
REFERENCE_LOOP_S = 0.25


def _proc_start_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _descendants(root: int, skip_spawning: bool = False) -> list[int]:
    """Every process below ``root``. With ``skip_spawning``, leave out a
    JVM's children that still run the JVM's own image: between spawn and
    exec such a child shares the JVM's memory and would count it twice."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        parent_exe = _exe(pid) if skip_spawning else ""
        for c in children.get(pid, ()):
            if parent_exe.endswith("/java") and _exe(c) == parent_exe:
                continue
            out.append(c)
            todo.append(c)
    return out


def _cpu_s(path: str, children: bool) -> float:
    """CPU seconds (user + system) from a /proc stat file; with
    ``children``, also those of its waited-for children."""
    with open(path) as fh:
        f = fh.read().rsplit(")", 1)[1].split()
    ticks = int(f[11]) + int(f[12]) + (int(f[13]) + int(f[14]) if children else 0)
    return ticks / os.sysconf("SC_CLK_TCK")


class TreeCpu:
    """CPU seconds used so far by this process tree (Python driver, driver
    JVM, Python workers, and the exited children they waited for), less
    the threads in ``skip_tids`` (the benchmark's own samplers). Unlike
    wall time, it does not grow when other processes on this machine take
    the cores; it does grow when the cores themselves run slower."""

    def __init__(self, skip_tids=()):
        self.skip_tids = list(skip_tids)

    def __call__(self) -> float:
        me = os.getpid()
        total = 0.0
        for pid in [me] + _descendants(me):
            try:
                total += _cpu_s(f"/proc/{pid}/stat", children=True)
            except (OSError, ValueError, IndexError):
                continue
        for tid in self.skip_tids:
            try:
                total -= _cpu_s(f"/proc/{me}/task/{tid}/stat", children=False)
            except (OSError, ValueError, IndexError):
                continue
        return total


class ReferenceLoop:
    """A fixed piece of CPU work that does not involve the package or
    Spark: sort, count into a dict, hash and compress seeded data. ``run``
    returns the CPU seconds this thread spent on it, which measures how
    fast a core of this machine is at the moment.

    The machine shares its host, and the speed of its cores drifts by 2x
    and more over tens of minutes; every time of the workload drifts with it, the
    CPU seconds as much as the wall time. Dividing by this loop's time,
    taken in the same run, cancels the drift: time metrics are reported
    as they would read on a core that runs the loop in REFERENCE_LOOP_S."""

    def __init__(self):
        rng = random.Random(20240601)
        self.ints = [rng.getrandbits(32) for _ in range(200_000)]
        self.blob = rng.randbytes(1 << 22)
        self.text = " ".join(map(str, self.ints)).encode()

    def run(self) -> float:
        t = time.thread_time()
        sorted(self.ints)
        counts: dict[int, int] = {}
        for i in self.ints:
            counts[i & 0xFFFF] = counts.get(i & 0xFFFF, 0) + 1
        hashlib.sha256(self.blob).digest()
        zlib.compress(self.text, 6)
        return time.thread_time() - t


class PeakRss:
    """Peak RSS of this process tree: the largest sum, over one sample, of
    the resident sizes (VmRSS) of all its processes, sampled every
    ``period_s``."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak_kb = 0
        self.at_peak = ""  # what the peak sample was made of, for the log
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        sizes = []
        for pid in [me] + _descendants(me, skip_spawning=True):
            try:
                with open(f"/proc/{pid}/status") as fh:
                    sizes.append(next((int(line.split()[1]) for line in fh
                                       if line.startswith("VmRSS:")), 0))
            except OSError:
                continue
        if sum(sizes) > self.peak_kb:
            self.peak_kb = sum(sizes)
            self.at_peak = (f"{len(sizes)} processes, largest {max(sizes) // 1024} MB, "
                            f"{sum(sizes) // 1024} MB in all")

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak_kb / 1024.0


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for every
    child process (JVM, Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    while _descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in _descendants(os.getpid()):  # still alive: kill, then wait
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.time() + 10
    while _descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_main = time.perf_counter()
    age_at_main = _proc_start_age()

    if not os.path.isdir(os.path.join(ROOT, "apache_jira_scraper_spark")):
        print(f"jirabench: no apache_jira_scraper_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from jirabench import workloads
    from jirabench.trace import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"jirabench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".jirabench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": local,
    })

    wl = workloads.WORKLOADS[args.workload]()
    rss = None
    spark = None
    try:
        from apache_jira_scraper_spark.session import get_spark
        from apache_jira_scraper_spark.sources import jira_source

        # set-up runs from process start to here, and again from the end
        # of input generation until the session is ready
        pre_gen = time.perf_counter() - t_main + age_at_main
        wl.prepare(args.seed, work)
        ref = ReferenceLoop()
        ref_s = [ref.run() for _ in range(3)]
        t_ready = time.perf_counter()

        rss = PeakRss().start()
        cpu = TreeCpu([rss._thread.native_id])
        t_sess = time.perf_counter()
        spark = get_spark(
            app_name="jirabench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # a fixed-size heap, resident from the start: otherwise the
                # JVM's resident size depends on when GC resizes the heap or
                # first touches a region, not on the workload
                "spark.driver.extraJavaOptions":
                    f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={local}",
            },
        )
        get_spark_s = time.perf_counter() - t_sess
        spark.range(1).count()
        jira_source.register(spark)
        setup_s = pre_gen + (time.perf_counter() - t_ready)

        tracer = Tracer(spark, enabled=False, cores=cores)
        walls: list[float] = []
        cpus: list[float] = []
        traced_iters: list[int] = []
        failed = 0
        # the cold iteration, then a fixed number of warm ones, so every run
        # reports the same iteration positions (warm iterations keep getting
        # cheaper while the JIT compiles, so a count set by --seconds would
        # make a slow run report dearer iterations); a traced run adds one,
        # so that both traced and untraced warm iterations exist
        planned = 1 + wl.WARM_ITERATIONS + args.trace
        for i in range(planned):
            # trace 1: trace the cold iteration, then every other one
            tracer.enabled = bool(args.trace) and i % 2 == 0
            tracer.new_run()
            t_iter = time.perf_counter()
            rec: dict = {}
            wl.records.append(rec)
            try:
                c_iter = cpu()
                with tracer.span(f"{wl.name}.iteration"):
                    wall = wl.iterate(spark, tracer, rec)
                cpu_used = cpu() - c_iter
                problems = wl.check(spark)
            except Exception:
                traceback.print_exc()
                wall = cpu_used = float("nan")
                problems = ["iteration raised"]
            walls.append(wall)
            cpus.append(cpu_used)
            ref_s += [ref.run() for _ in range(3)]
            if problems:
                failed += 1
                print(f"jirabench: iteration {i} failed: {problems}", file=sys.stderr)
            if tracer.enabled and walls[-1] == walls[-1]:
                tracer.collect_engine()
                wl.after_traced(tracer)
                traced_iters.append(i)
            print(f"jirabench: iteration {i}: {walls[-1]:.3f} s timed, {cpus[-1]:.3f} "
                  f"CPU s, {time.perf_counter() - t_iter:.3f} s with checks", file=sys.stderr)
        print(f"jirabench: reference loop: {' '.join(f'{x:.4f}' for x in ref_s)}", file=sys.stderr)
        # the fastest loop of the run: the JVM's JIT and GC threads keep
        # running after an iteration and slow some of the others
        ref_loop_s = min(ref_s)
        scale = REFERENCE_LOOP_S / ref_loop_s
        peak_rss_mb = rss.stop()
        print(f"jirabench: peak RSS: {rss.at_peak}", file=sys.stderr)
        rss = None

        warm_idx = [k for k in wl.warm_indices() if walls[k] == walls[k]]  # not NaN
        if not warm_idx or walls[0] != walls[0]:
            raise RuntimeError("the cold iteration or every warm one failed")
        if args.trace:
            metrics = dict.fromkeys(workloads.per_layer_names(), 0)
            metrics["session.get_spark_s"] = get_spark_s
            metrics.update(wl.layer_metrics(tracer, traced_iters))
            untraced = [walls[k] for k in warm_idx if k not in traced_iters]
            # wall times: the untraced warm iteration, and the (traced) cold one
            metrics["iteration.wall_s"] = statistics.median(
                untraced or [walls[k] for k in warm_idx])
            metrics["iteration.cold_s"] = walls[0]
            metrics["host.reference_loop_s"] = ref_loop_s
            traced = [walls[k] for k in warm_idx if k in traced_iters]
            overhead = (statistics.median(traced) / statistics.median(untraced) - 1.0
                        if traced and untraced else 0.0)
            metrics["trace.overhead_frac"] = overhead
            out_dir = os.path.join(ROOT, ".jirabench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
        else:
            metrics = {
                "setup_s": setup_s * scale,
                "peak_rss_mb": peak_rss_mb,
                "cpu_s": statistics.median(cpus[k] for k in warm_idx) * scale,
                "cold_cpu_s": cpus[0] * scale,
            }
        expected = workloads.per_layer_names() if args.trace else list(workloads.END_TO_END)
        if list(metrics) != expected:
            raise RuntimeError(f"metric names {list(metrics)} != {expected}")
        result = {
            "correct": failed == 0,
            "attempted": len(walls),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": workloads.unit(k)} for k, v in metrics.items()},
        }
    finally:
        if rss is not None:
            rss.stop()
        wl.close()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
