"""KG-construction benchmark for nabu_spark: one closed-loop workload per run.

Run from the repository root:

    python3 perfbench/run.py --workload fused_mixed --seed 1 --seconds 15 --trace 0

One driver process runs one batch job at a time on ``local[nproc]``. The
last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it name
every metric with its unit and sample count. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md).
Spark's own output and the CLI's JSON lines go to a log file under
``perfbench/.work/``. The exit code is non-zero when any iteration raised or
failed its output check, and when the repository's package is missing.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
LOGS = HERE / ".work"

SETUP_REPEATS = 3  # set-ups per untraced run; setup_s reports their median
MIN_WARM = 3  # warm iterations per untraced run, however long they take
# unreported warm-up iterations before the measured ones: the first warm
# iterations run 20-40% slower than later ones. A count, not a time: a
# time-based warm-up fits fewer iterations on a slow stretch of the host,
# so the measured ones start earlier on the speed-up and the slowdown is
# counted twice.
WARMUP = 4
SCALING_WARM = 2  # measured local[1] iterations of the scaling child
TRACED_PAIRS = 2  # untraced/traced iteration pairs per traced run, at least
KERNEL_PAGES = 1500  # driver-side kernel microbench sample
DRIVER_HEAP = "2g"

END_TO_END = {
    "wall_s": "s",
    "triples_per_s": "triples/s",
    "cold_wall_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
COUNTERS = {
    "fused.boundary_share": "ratio",
    "release.files": "count",
    "tracing_overhead_s": "s",
    "traced.wall_s": "s",
    "traced.self_share": "ratio",
    "fused_mixed.scaling_eff_1to4": "ratio",
}
_UNITS = {"self_s": "s", "exec_cpu_s": "s", "jobs": "count", "tasks": "count",
          "us_p50": "us", "us_p99": "us"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    from kernels import kernel_metric_names
    from tracing import layer_metric_names

    names = layer_metric_names() + kernel_metric_names()
    out = {n: _UNITS.get(n.rsplit(".", 1)[1], "MB" if n.endswith("_mb") else "ratio")
           for n in names}
    out.update(COUNTERS)
    return out


# --- process isolation ---------------------------------------------------------


def isolate(work: Path, log_path: Path) -> tuple[int, int]:
    """Keep every file the run writes inside ``work`` and send everything
    but the result (Spark's stderr, the CLI's stdout, Python workers) to
    ``log_path``. Returns dups of the original stdout/stderr."""
    for d in ("tmp", "spark-local", "eventlog"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        filter(None, [os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData"]))
    tempfile.tempdir = None
    sys.stdout.flush()
    sys.stderr.flush()
    real_out, real_err = os.dup(1), os.dup(2)
    log_path.parent.mkdir(parents=True, exist_ok=True)
    fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 1)
    os.dup2(fd, 2)
    os.close(fd)
    return real_out, real_err


def start_spark(work: Path, cores: int, event_log: bool):
    from nabu_spark.session import get_spark

    # the heap is committed and touched up front, so the JVM's resident
    # memory does not depend on when G1 chose to grow it; no hsperfdata
    # file, which the JVM would write to /tmp whatever java.io.tmpdir says
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_HEAP,
        "spark.local.dir": str(work / "spark-local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch "
            "-XX:-UsePerfData"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="nabu-perfbench", cores=cores,
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _process_tree(root: int) -> list[int]:
    kids = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids[pid])
    return out


def stop_spark() -> None:
    """Stop Spark, end the JVM and any Python worker, and wait for them."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    reap_children()


def reap_children(timeout: float = 10.0) -> None:
    me = os.getpid()
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while True:
        left = [p for p in _process_tree(me) if p != me]
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in left:
            with contextlib.suppress(OSError):
                os.kill(pid, sig)
            with contextlib.suppress(ChildProcessError, OSError):
                os.waitpid(pid, os.WNOHANG)
        time.sleep(0.1)


class TreeRss:
    """Peak resident memory of this process and all its descendants (Python
    driver, JVM, Python workers), sampled from /proc on a thread. Each
    process counts its proportional set size, so pages shared by forked
    processes (Python workers, the JVM's short-lived ``chmod`` children)
    are counted once. Reading the JVM's smaps_rollup walks its whole
    pre-touched heap (about 40 ms of kernel time on a 4-CPU VM), so samples
    are 0.5 s apart; the Python workers keep their memory between
    iterations, so the peak is a plateau that this rate does not miss."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self.peak_parts: list[tuple[int, str]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> tuple[int, list[tuple[int, str]]]:
        total, parts = 0, []
        for pid in _process_tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    rss = next(int(ln.split()[1]) * 1024 for ln in fh
                               if ln.startswith("Pss:"))
                with open(f"/proc/{pid}/comm") as fh:
                    parts.append((rss, fh.read().strip()))
            except (OSError, IndexError, ValueError, StopIteration):
                continue
            total += rss
        return total, parts

    def _take(self) -> None:
        total, parts = self.sample()
        if total > self.peak:
            self.peak, self.peak_parts = total, parts

    def _run(self) -> None:
        while not self._stop.is_set():
            self._take()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._take()
        print("peak memory by process (PSS, MB):",
              sorted(((round(r / 1e6), c) for r, c in self.peak_parts), reverse=True))
        return False


# --- closed loop ---------------------------------------------------------------


class Stopwatch:
    """The untraced runs' span: only sums wall time per call-site name, for
    the per-iteration line in the log. It makes no Spark or Tracer call."""

    def __init__(self):
        self.split: dict[str, float] = defaultdict(float)

    @contextlib.contextmanager
    def span(self, name: str, **attributes):
        t0 = time.perf_counter()
        try:
            yield None
        finally:
            self.split[name] += time.perf_counter() - t0


class Phase:
    """Outcomes of one closed-loop phase."""

    def __init__(self):
        self.cold: float | None = None
        self.walls: list[float] = []  # successful measured warm iterations
        self.quads: list[int] = []
        self.attempted = 0
        self.failed = 0


def measure(wl, seconds: float, span=None, *, cold: bool = True, warmup: int = 0,
            min_warm: int = MIN_WARM, first: int = 0) -> Phase:
    """Run one cold iteration (if ``cold``), then ``warmup`` unreported
    warm-up iterations, then measured warm iterations back to back until
    ``seconds`` have passed and at least ``min_warm`` ran. Check and cleanup are outside the
    timed region; a raise or a failed check counts as a failure. ``span``
    is the traced phase's span factory; by default a Stopwatch."""
    from tracing import ITERATION

    phase = Phase()
    watch = Stopwatch()
    span = span or watch.span
    streak = 0  # consecutive failures; a broken program ends the phase early

    def one() -> tuple[float, int] | None:
        nonlocal streak
        i = first + phase.attempted
        try:
            t0 = time.perf_counter()
            with span(ITERATION, iteration=i):
                quads = wl.iterate(i, span)
            wall = time.perf_counter() - t0
            wl.check(i, quads)
            split = ", ".join(f"{k} {v:.3f}" for k, v in watch.split.items() if k != ITERATION)
            print(f"iteration {i}: {wall:.3f}s, {quads} quads, checked ({split})", flush=True)
        except Exception:
            traceback.print_exc()
            phase.failed += 1
            streak += 1
            return None
        finally:
            phase.attempted += 1
            watch.split.clear()
            wl.cleanup(i)
        streak = 0
        return wall, quads

    def loop(seconds: float, at_least: int):
        end, n = time.monotonic() + seconds, 0
        while streak < 3 and (n < at_least or time.monotonic() < end):
            n += 1
            yield one()

    if cold:
        out = one()
        phase.cold = out[0] if out else None
    for _ in loop(0, warmup):
        pass
    for out in loop(seconds, min_warm):
        if out:
            phase.walls.append(out[0])
            phase.quads.append(out[1])
    return phase


def end_to_end(phase: Phase, setup_s: float, peak_rss: int) -> dict[str, float]:
    wall = statistics.median(phase.walls) if phase.walls else 0.0
    quads = statistics.median(phase.quads) if phase.quads else 0
    return {
        "wall_s": wall,
        "triples_per_s": quads / wall if wall else 0.0,
        "cold_wall_s": phase.cold or 0.0,
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss / 1e6,
    }


# --- traced run ------------------------------------------------------------------


def traced_run(args, wl, spark, work: Path, cores: int, trace_path: Path) -> tuple[dict, Phase]:
    import kernels
    import tracing

    # cold + warm-up, then untraced/traced pairs: each pair's difference
    # is one sample of the tracing overhead, free of warm-up and drift
    phase = measure(wl, 0, warmup=WARMUP, min_warm=0)
    inst = tracing.Instrumented(spark)

    def one(traced_side: bool) -> Phase:
        with inst if traced_side else contextlib.nullcontext():
            p = measure(wl, 0, inst.span if traced_side else None, min_warm=1,
                        first=phase.attempted, cold=False)
        phase.attempted += p.attempted
        phase.failed += p.failed
        return p

    traced, plain, overhead = [], [], []
    deadline = time.monotonic() + args.seconds
    while len(overhead) < TRACED_PAIRS or time.monotonic() < deadline:
        if len(overhead) % 2:  # alternate which side of the pair runs first
            b, a = one(True), one(False)
        else:
            a, b = one(False), one(True)
        traced += b.walls
        plain += a.walls
        if a.walls and b.walls:
            overhead.append(b.walls[0] - a.walls[0])
        if a.failed or b.failed:
            break
    inst.tracer.export_jsonl(str(trace_path))
    stop_spark()

    groups = tracing.read_event_log(str(work / "eventlog"))
    iterations = max(1, len(traced))
    metrics, wall, share, totals = tracing.layer_metrics(
        inst.tracer.to_dicts(), groups, iterations)
    metrics["traced.wall_s"] = wall
    metrics["traced.self_share"] = share
    metrics["tracing_overhead_s"] = statistics.median(overhead) if overhead else 0.0

    kmetrics, kernel_us_per_page = kernels.run(wl.first, KERNEL_PAGES)
    metrics.update(kmetrics)
    counters = {k: 0.0 for k in COUNTERS if k not in metrics}
    counters.update(wl.counters)
    fused_py_s = totals.get("pipeline.pages_to_quads_fused.py_exec_run_s", 0.0)
    if fused_py_s:
        kernel_s = kernel_us_per_page * wl.n * iterations / 1e6
        counters["fused.boundary_share"] = 1.0 - kernel_s / fused_py_s
    if wl.name == "fused_mixed" and plain:
        # the same workload on local[1], against this run's untraced
        # local[nproc] warm iterations
        wall_1 = run_scaling_child(wl, args.seed)
        counters["fused_mixed.scaling_eff_1to4"] = wall_1 / (cores * statistics.median(plain))
    metrics.update(counters)
    return metrics, phase


def run_scaling_child(wl, seed: int) -> float:
    """Median warm wall seconds of ``wl`` over its own corpus on
    ``local[1]``, in a child process (the parent's Spark is stopped)."""
    cmd = [sys.executable, str(Path(__file__).resolve()), "--scaling-probe",
           str(Path(wl.dir).parent), "--seed", str(seed)]
    # its own process group, so a timeout also ends the child's JVM
    with subprocess.Popen(cmd, cwd=str(ROOT), stdout=subprocess.PIPE,
                          start_new_session=True) as child:
        try:
            out, _ = child.communicate(timeout=90)
        except subprocess.TimeoutExpired:
            os.killpg(child.pid, signal.SIGKILL)
            child.communicate()
            raise
    if child.returncode:
        raise subprocess.CalledProcessError(child.returncode, cmd)
    return float(json.loads(out.decode().strip().splitlines()[-1])["wall_s"])


def scaling_probe(work: Path, data: str, seed: int) -> float:
    """The scaling child: ``fused_mixed`` on ``local[1]`` over the corpus the
    parent wrote under ``data``; a cold iteration, one warm-up iteration,
    then SCALING_WARM measured iterations, each checked like the parent's."""
    from workloads import FusedMixed

    wl = FusedMixed(start_spark(work, 1, event_log=False), data, seed, 1)
    phase = measure(wl, 0, warmup=1, min_warm=SCALING_WARM)
    if phase.failed or not phase.walls:
        raise RuntimeError(f"{phase.failed} of {phase.attempted} local[1] iterations failed")
    return statistics.median(phase.walls)


# --- entry point -----------------------------------------------------------------


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scaling-probe", metavar="DATA", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if not args.workload and not args.scaling_probe:
        p.error("--workload is required")
    return args


def bench(args, work: Path, log_stem: str) -> tuple[list[str], dict, Phase]:
    from workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = start_spark(work, cores, event_log=bool(args.trace))
    session_s = time.perf_counter() - t0
    wl = WORKLOADS[args.workload](spark, str(work / "data"), args.seed, cores)
    setups = []
    for _ in range(1 if args.trace else SETUP_REPEATS):
        t0 = time.perf_counter()
        wl.setup()
        setups.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.reference()
    print(f"phases: session {session_s:.2f}s, set-ups {[round(x, 2) for x in setups]}, "
          f"reference {time.perf_counter() - t0:.2f}s", flush=True)
    setup_s = session_s + statistics.median(setups)
    head = (f"perfbench {args.workload} seed={args.seed} local[{cores}] "
            f"pages={wl.n} setup={session_s:.2f}s session + "
            f"{statistics.median(setups):.2f}s median of {len(setups)} set-ups")
    if args.trace:
        metrics, phase = traced_run(args, wl, spark, work, cores,
                                    LOGS / f"{log_stem}.trace.jsonl")
        units = per_layer_units()
        lines = [head, f"traced: per-layer metrics per traced iteration "
                 f"(spans in {LOGS.name}/{log_stem}.trace.jsonl)"]
    else:
        with TreeRss() as rss:
            phase = measure(wl, args.seconds, warmup=WARMUP)
        metrics = end_to_end(phase, setup_s, rss.peak)
        units = END_TO_END
        n_warm = len(phase.walls)
        lines = [head]
        for name in END_TO_END:
            how = {"wall_s": f"median of {n_warm} warm iterations after {WARMUP} warm-up iterations",
                   "triples_per_s": f"median quads / median wall, {n_warm} iterations",
                   "cold_wall_s": "first iteration",
                   "setup_s": f"session start + median of {len(setups)} set-ups",
                   "peak_rss_mb": "driver process tree, /proc PSS"}[name]
            lines.append(f"{name} {metrics[name]:.6g} {units[name]} ({how})")
    lines.append(f"error_ratio {phase.failed / max(1, phase.attempted):.6g} "
                 f"({phase.failed} of {phase.attempted} iterations failed)")
    result = {name: {"value": metrics[name], "unit": unit} for name, unit in units.items()}
    return lines, result, phase


def main(argv=None) -> int:
    if not (ROOT / "nabu_spark" / "__init__.py").is_file():
        print("perfbench: the nabu_spark package is missing; run from a "
              "repository checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    args = parse_args(argv)
    stem = (f"{args.workload}-seed{args.seed}-trace{args.trace}" if args.workload
            else f"fused_mixed-seed{args.seed}-scaling")
    work = LOGS / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    real_out, real_err = isolate(work, LOGS / f"{stem}.log")
    rc, out = 1, ""
    try:
        if args.scaling_probe:
            wall = scaling_probe(work, args.scaling_probe, args.seed)
            out = json.dumps({"wall_s": wall}) + "\n"
            rc = 0
        else:
            lines, metrics, phase = bench(args, work, stem)
            ok = phase.failed == 0 and phase.attempted > 0
            lines.append(json.dumps({"correct": ok, "attempted": phase.attempted,
                                     "failed": phase.failed, "metrics": metrics}))
            out = "\n".join(lines) + "\n"
            rc = 0 if ok else 1
    except Exception as e:
        traceback.print_exc()
        os.write(real_err, f"perfbench: {type(e).__name__}: {e} "
                           f"(log: {LOGS / (stem + '.log')})\n".encode())
        out, rc = "", 1
    finally:
        with contextlib.suppress(Exception):
            stop_spark()
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
    os.write(real_out, out.encode())
    return rc


if __name__ == "__main__":
    sys.exit(main())
