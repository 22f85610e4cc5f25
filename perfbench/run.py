#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {battery,er} --seed N --seconds S --trace {0,1}

Run from the root of a checkout of the repository. Builds the workload's
inputs from the seed, starts one local Spark session on every CPU this
process may use, warms it (battery only), then runs cycles of the workload
until the next one would overrun ``--seconds`` (at least one). Outputs are
checked after the timed window. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
has no timed window: it runs one traced cycle, in the place of the timed
cycle, then one untraced reference cycle; the tracing overhead is the
traced cycle against that reference. Progress, the environment record and
a readable summary go to stderr. ``--smoke`` uses the smallest ER corpus
(see selftest.py).

Everything the run writes lives under ``.perfbench_work/`` in the checkout
(shuffle, spill, checkpoints, stage store, event log) and is removed at exit.
"""

from __future__ import annotations

import argparse
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
ROOT = HERE.parent
PACKAGE = "tabiya_livelihoods_classifier_spark"
DRIVER_MEM = "4g"
BUILDS = 3  # inputs are built this many times; setup counts the median
# A run must end within 180 s. The watchdog fires at 170 s, which leaves
# time to stop Spark (STOP_WAIT_S at most) and exit.
DEADLINE_S = 170
STOP_WAIT_S = 5

sys.path.insert(0, str(ROOT))
from layers import catalog, layer_metrics  # noqa: E402
from spans import NullTracer, Tracer, parse_event_log, span_table  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# the end-to-end numbers of the readable summary, with their units
SUMMARY_UNITS = {
    "setup_s": "s", "cycle_s": "s", "peak_rss_mb": "MB", "failed_frac": "ratio",
    "battery_total_s": "s", "er_turns_per_s": "1/s", "er_pairwise_f1": "ratio",
    "inc_commit_s": "s", "inc_update_s": "s",
}
END_TO_END = ("setup_s", "cycle_s", "peak_rss_mb")


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def cpu_probe_miters(secs: float = 0.3) -> float:
    """Single-process spin rate (M iterations/s): host interference shows
    here beside the run's numbers."""
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < secs:
        for _ in range(10_000):
            n += 1
    return n / 1e6 / (time.perf_counter() - t0)


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.parent.name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb() -> dict[str, float]:
    """Peak RSS (VmHWM) in MB of this process and each live descendant,
    by command name: the driver JVM and the Python processes."""
    out: dict[str, float] = {}
    for pid in _tree_pids(os.getpid()):
        try:
            status = Path(f"/proc/{pid}/status").read_text().splitlines()
        except OSError:
            continue
        fields = dict(line.split(":", 1) for line in status if ":" in line)
        if "VmHWM" in fields:
            key = f"{fields['Name'].strip()}[{pid}]"
            out[key] = int(fields["VmHWM"].split()[0]) / 1024
    return out


def source_digest() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / PACKAGE).rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    """HEAD of the checkout, when it is a git work tree (the source digest
    identifies the code either way)."""
    if not (ROOT / ".git").exists():
        return None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def start_session(work: Path, cores: int, trace: bool):
    from tabiya_livelihoods_classifier_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData "
            # a fixed-size heap: RSS then follows the pages the program
            # touches, not when G1 chose to grow the heap
            f"-Xms{DRIVER_MEM}"
        ),
    }
    if trace:
        (work / "events").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "events").as_uri(),
            "spark.eventLog.compress": "false",
        })
    return get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=conf,
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=STOP_WAIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run_cycles(wl, seconds: float) -> list:
    """Closed loop: cycles back to back while the next one, taking as long
    as the last, still ends inside the window."""
    cycles, t0 = [], time.perf_counter()
    while True:
        cycles.append(wl.cycle(NullTracer(), len(cycles)))
        elapsed = time.perf_counter() - t0
        if elapsed + elapsed / len(cycles) > seconds:
            return cycles


def traced_cycle(spark, wl, idx):
    tracer = Tracer(spark)
    for owner, attr, span, force in wl.patches():
        tracer.patch(owner, attr, span, force)
    try:
        with tracer.span("cycle"):
            cyc = wl.cycle(tracer, idx)
    finally:
        tracer.restore()
    return cyc, tracer.spans


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="smallest inputs (self-test)")
    args = ap.parse_args(argv)
    from tabiya_livelihoods_classifier_spark.plans.queries import QUERIES

    # local[N] over exactly the CPUs this process may use; the JVM and its
    # Python workers inherit the affinity, so no further pinning is needed
    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    for d in ("local", "tmp", "ckpt"):
        (work / d).mkdir(parents=True)
    # A fresh stage store and checkpoint dir per run: memoized stages from
    # an earlier run would be read instead of computed.
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
        "TMPDIR": str(work / "tmp"),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CHECKPOINT_DIR": str(work / "ckpt"),
        "SPARK_GRAFT_STAGE_DIR": str(work / "stages"),
    })
    spark = None
    try:
        probe = cpu_probe_miters()
        t0 = time.perf_counter()
        spark = start_session(work, cores, bool(args.trace))
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.smoke)
        build_s = []
        for i in range(BUILDS):
            t0 = time.perf_counter()
            wl.build(i)
            build_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up()
        warmup_s = time.perf_counter() - t0
        setup = {
            "session.start_s": session_s,
            "data.generate_s": statistics.median(build_s),
            "warmup_s": warmup_s,
        }
        log(f"setup: {json.dumps({k: round(v, 3) for k, v in setup.items()})}")

        t0 = time.perf_counter()
        if args.trace:
            # No timed window: it gives no per-layer numbers. The traced
            # cycle runs first, where the timed cycle runs, so its spans
            # split the same cycle the end-to-end metrics time: each plan's
            # first run. The untraced reference then runs warm, so the
            # overhead against it is an upper bound.
            traced, spans = traced_cycle(spark, wl, "traced")
            ref = wl.cycle(NullTracer(), "ref")
            cycles, checked = [ref], [traced, ref]
        else:
            cycles = run_cycles(wl, args.seconds)
            checked = list(cycles)
        log(f"cycles: {len(checked)} in {time.perf_counter() - t0:.1f} s")

        t0 = time.perf_counter()
        problems = []
        for c in checked:
            problems += c.failed + wl.check(c)
        attempted = sum(c.attempted for c in checked)
        log(f"checks: {time.perf_counter() - t0:.1f} s")
        rss = peak_rss_mb()
        log(f"rss: {json.dumps({k: round(v) for k, v in rss.items()})}")
        rss_mb = sum(rss.values())
        stop_session(spark)
        spark = None

        env = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "git_commit": git_commit(), "source_sha256": source_digest(),
            "nproc": cores, "driver_heap": DRIVER_MEM,
            "pyspark": _pyspark_version(), "python": sys.version.split()[0],
            "cpu_probe_miters": round(probe, 2), "inputs": wl.sizes,
            "work_dir_fs": _fs_type(work), "cycles": len(cycles),
        }
        log(f"env: {json.dumps(env)}")

        summary = {
            "setup_s": sum(setup.values()),
            "cycle_s": statistics.median(c.work_s for c in cycles),
            "peak_rss_mb": rss_mb,
            "failed_frac": len(problems) / attempted,
            **wl.summary(cycles),
        }
        for k, v in summary.items():
            log(f"metric {k} = {v:.6g} {SUMMARY_UNITS[k]}")
        for p in problems:
            log(f"FAILED {p}")

        if args.trace:
            profiles = parse_event_log(work / "events")
            for row in span_table(spans, profiles):
                log(f"span: {json.dumps(row)}")
            extra = {**setup, **summary, **wl.details(ref)}
            units = dict(catalog(QUERIES))
            metrics = {name: 0.0 for name in units}
            metrics.update(layer_metrics(spans, profiles, ref.work_s, extra))
            log(f"trace: overhead {metrics['trace.overhead_frac']:+.1%} "
                f"({traced.work_s:.3f} s traced vs {ref.work_s:.3f} s "
                f"untraced); layer spans cover "
                f"{metrics['trace.layer_cover_frac']:.1%} of the traced "
                f"cycle, {metrics['trace.uncovered_s']:.3f} s in no layer span")
        else:
            metrics = summary
            units = {k: SUMMARY_UNITS[k] for k in END_TO_END}
        print(json.dumps({
            "correct": not problems,
            "attempted": attempted,
            "failed": len(problems),
            "metrics": {
                k: {"value": float(metrics[k]), "unit": units[k]} for k in units
            },
        }))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def _pyspark_version() -> str:
    import pyspark

    return pyspark.__version__


def _fs_type(path: Path) -> str:
    """Filesystem of the shuffle/checkpoint directory, from /proc/mounts."""
    best, fs = "", "unknown"
    for line in Path("/proc/mounts").read_text().splitlines():
        _, mnt, kind, *_ = line.split()
        if str(path).startswith(mnt) and len(mnt) > len(best):
            best, fs = mnt, kind
    return f"{fs} ({best})"


def _on_deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


if __name__ == "__main__":
    if not (ROOT / PACKAGE).is_dir():
        log(f"perfbench: no {PACKAGE}/ next to {HERE.name}/ — run from a checkout")
        sys.exit(2)
    signal.signal(signal.SIGALRM, _on_deadline)
    signal.alarm(DEADLINE_S)
    sys.exit(main())
