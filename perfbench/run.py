"""Benchmark of the extraction engine and the query registry.

    python3 perfbench/run.py --workload crawl_mix --seed 7 --seconds 10 \
        --trace 0

Run from the repository root.  Workloads are listed in BENCHMARK.json and
explained in perfbench/README.md.  Each run generates (or reuses) its
seeded input under .perfbench/, sets up a local[4] Spark session, runs
one untimed full-size warm-up pass, then times whole passes until
``--seconds`` have been measured (one pass at the sizes used) and
reports medians.  It checks the outputs and prints one JSON object as
the last line of stdout: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1`` (a separate, traced run).  The
command runs all of this in a child process and exits only once every
process the benchmark started has ended (see ``supervise``).
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import subprocess
import sys
import time

WORKLOADS = ("crawl_mix", "registry_leaves")
UNITS = {"setup_s": "s", "wall_s": "s", "docs_per_s": "1/s", "cpu_s": "s",
         "rss_after_gc_mb": "MB", "ok_frac": "ratio",
         "out_bytes_per_in_byte": "ratio"}
COMMON_LAYERS = ("cpu.python_s", "cpu.jvm_s", "rss.peak_mb",
                 "rss.jvm_peak_mb", "rss.python_peak_mb", "spark.gc_s",
                 "spark.executor_cpu_frac", "jvm.heap_peak_mb", "error_frac",
                 "warmup_s", "tracing_overhead_frac")
PR_SET_CHILD_SUBREAPER = 36
REAP_GRACE_S = 10.0     # how long leftover processes may take to exit


def process_age() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    return (time.clock_gettime(time.CLOCK_BOOTTIME)
            - start / os.sysconf("SC_CLK_TCK"))


def layer_unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ms") or name.endswith("_ms_per_doc"):
        return "ms" if name.endswith("_ms") else "ms/doc"
    if name.endswith("_s"):
        return "s"
    if name.startswith("core.docs.") or name == "core.errors" or \
            name.endswith("python_nodes"):
        return "count"
    return "ratio"


def per_layer_names() -> list[str]:
    from perfbench.extraction import per_layer_names as ext
    from perfbench.registry import per_layer_names as reg
    return list(COMMON_LAYERS) + ext() + reg()


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None,
                    help="override the corpus size (self-test only)")
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def become_subreaper() -> None:
    """Orphaned descendants of this process re-parent to it, not to init."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def children() -> list[int]:
    """Pids whose parent is this process, exited but unreaped ones too."""
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == me:
            out.append(int(name))
    return out


def supervise(argv) -> int:
    """Run the benchmark in a child process, then end and reap every
    process it leaves behind.  As child subreaper this process inherits
    each orphaned descendant (the Python workers the JVM forked,
    multiprocessing's resource tracker, a JVM whose driver was killed)
    and returns only once all of them have exited: those still running
    ``REAP_GRACE_S`` after the benchmark ends are killed."""
    become_subreaper()
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__),
                              "--child", *argv])

    def forward(signum, _frame):
        if child.poll() is None:
            child.send_signal(signum)
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, forward)
    rc = child.wait()
    deadline = time.monotonic() + REAP_GRACE_S
    while True:
        while True:                     # reap whatever has exited
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        left = children()
        if not left:
            return rc
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    args = parse(argv)
    if not args.child:
        return supervise(argv)
    if not os.path.isdir(os.path.join(os.getcwd(), "ocr_gpu_services_spark")):
        print("perfbench: run from the repository root; the "
              "ocr_gpu_services_spark package is not here", file=sys.stderr)
        return 2
    sys.path[:0] = [os.getcwd()]
    from statistics import median

    from perfbench.common import (ProcSampler, Spans, StageLog,
                                  collect_heaps, heap_peak, new_session,
                                  pin_environment, stage_totals, stop_session)
    from perfbench.extraction import Extraction
    from perfbench.registry import Registry
    pin_environment()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    spans = Spans(run_id, enabled=bool(args.trace))

    t0 = time.perf_counter()
    with spans.span("inputs"):
        wl = {"crawl_mix": Extraction, "registry_leaves": Registry}[
            args.workload](args.seed, args.docs)
    gen_s = time.perf_counter() - t0

    layer: dict[str, float] = {n: 0.0 for n in per_layer_names()}
    passes = []
    spark = None
    with ProcSampler() as sampler:
        try:
            with spans.span("setup"):
                spark = new_session()
                wl.setup(spark)
            # from process start (imports, JVM launch, session, input,
            # workers), less the untimed input generation
            setup_s = process_age() - gen_s

            t0 = time.perf_counter()
            with spans.span("warmup"):
                wl.warm(spark)
            layer["warmup_s"] = time.perf_counter() - t0

            stages = StageLog(spark)
            measured = 0.0
            while measured < args.seconds or not passes:
                collect_heaps(spark)
                heap_peak(spark, reset=True)
                mark = stages.mark()
                with sampler.window() as w, spans.span("pass"):
                    t0 = time.perf_counter()
                    meta = wl.timed_pass(spark, len(passes))
                    wall = time.perf_counter() - t0
                st = stage_totals(stages.since(mark))
                heap_mb = heap_peak(spark)
                # what the process tree keeps once the pass is over
                collect_heaps(spark)
                time.sleep(1.0)     # the JVM returns freed heap concurrently
                passes.append({"wall": wall, "meta": meta, "heap_mb": heap_mb,
                               "rss_after_gc_mb": sampler.rss_mb(),
                               **w, **st})
                measured += wall
            wall_s = median([p["wall"] for p in passes])

            if args.trace:
                with spans.span("traced"):
                    traced_wall, extra = wl.traced(spark, spans)
                layer.update(extra)
                layer["tracing_overhead_frac"] = (traced_wall - wall_s) / wall_s
            with spans.span("check"):
                problems, e2e, checked_layers = wl.check(passes)
        finally:
            if spark is not None:
                stop_session(spark)
    spans.dump()

    for p in problems:
        print(f"perfbench: correctness: {p}", file=sys.stderr)
    attempted = wl.units * len(passes)
    failed = e2e.pop("failed")
    if args.trace:
        layer.update({
            "cpu.python_s": median([p["python_cpu_s"] for p in passes]),
            "cpu.jvm_s": median([p["jvm_cpu_s"] for p in passes]),
            "spark.gc_s": median([p["gc_ms"] / 1e3 for p in passes]),
            "spark.executor_cpu_frac": median(
                [p["cpu_ns"] / 1e6 / max(1, p["run_ms"]) for p in passes]),
            "jvm.heap_peak_mb": median([p["heap_mb"] for p in passes]),
            "rss.peak_mb": median([p["peak_rss_all_mb"] for p in passes]),
            "rss.jvm_peak_mb": median([p["peak_rss_jvm_mb"] for p in passes]),
            "rss.python_peak_mb": median(
                [p["peak_rss_python_mb"] for p in passes]),
            "error_frac": 1.0 - e2e["ok_frac"],
            **checked_layers,
        })
        metrics = {k: {"value": float(layer[k]), "unit": layer_unit(k)}
                   for k in per_layer_names()}
    else:
        vals = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "docs_per_s": wl.docs / wall_s,
            "cpu_s": median([p["cpu_s"] for p in passes]),
            "rss_after_gc_mb": median([p["rss_after_gc_mb"]
                                       for p in passes]),
            **e2e,
        }
        metrics = {k: {"value": float(vals[k]), "unit": UNITS[k]}
                   for k in UNITS}
    print(f"perfbench: workload={args.workload} seed={args.seed} "
          f"docs={wl.docs} passes={len(passes)} inputs_s={gen_s:.1f} "
          f"setup_s={setup_s:.2f} "
          f"warmup_s={layer['warmup_s']:.1f} "
          f"pass_walls_s={[round(p['wall'], 2) for p in passes]} "
          f"total_s={process_age():.1f}")
    print(json.dumps({
        "correct": not problems, "attempted": attempted, "failed": failed,
        "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
