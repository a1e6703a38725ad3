"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload lda_books --seed 1 --seconds 12 --trace 0

Run from the repository root. One run is one fresh ``local[4]`` Spark
process driven from one thread:

1. writes the seed's inputs (and a smaller warm-up set) under
   ``.bench_work/``, outside every timed window;
2. sets up ``N_SETUPS`` times: ``get_session`` and an untimed warm-up pass,
   stopping the SparkContext between set-ups; ``setup_s`` is their median;
3. runs passes, each over a fresh hard-linked copy of the inputs (so no
   memo keyed on the input path can serve a later pass), until the passes
   add up to ``--seconds``; every pass's outputs are checked after it;
4. with ``--trace 1`` every pass is traced; it reports the per-layer
   metrics, the traced pass time ``trace.run_s`` (to set against the
   untraced ``run_s`` of a ``--trace 0`` run of the same seed) and the time
   spent in the tracer itself, and writes the spans to ``.bench_out/``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json, or
with ``--trace 1`` its per-layer metrics). The exit code is 0 only when
every operation and check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MASTER = "local[4]"
N_SETUPS = 3
DRIVER_MEM = "2g"
WARM_SCALE = 0.25


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def configure_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and pin the settings
    the package reads from the environment to its defaults."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    # a bounded driver heap keeps the run small on a shared host (the
    # package default is 8g)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    dirs = {n: os.path.join(work, n) for n in ("tmp", "spark-local", "jvm-tmp")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the launcher JVM, likewise
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        # the status store must keep every job and stage of a run
        "--conf spark.ui.retainedJobs=1000000",
        "--conf spark.ui.retainedStages=1000000",
        # a fixed, pre-touched heap: the resident peak then tracks what grows
        # beyond it (off-heap, threads, the Python driver), not GC sizing luck
        # (-XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*)
        f"--driver-java-options '-Djava.io.tmpdir={dirs['jvm-tmp']} -Xms{DRIVER_MEM} "
        "-XX:+AlwaysPreTouch -XX:-UsePerfData'",
        "pyspark-shell",
    ])
    tempfile.tempdir = None
    sys.path.insert(1, ROOT)


def fresh_copy(src: str, d: str) -> None:
    """Hard-link ``src`` to the new path ``d``; engine temp files go under it."""
    shutil.copytree(src, d, copy_function=os.link)
    os.makedirs(os.path.join(d, "tmp"))
    tempfile.tempdir = os.path.join(d, "tmp")  # index builds write here


def one_pass(spark, wl, src: str, d: str, tracer):
    """Run ``wl`` once over a fresh copy of ``src`` at ``d``."""
    fresh_copy(src, d)
    with tracer.wrapped(wl.wrap_targets()):
        t0 = time.perf_counter()
        phases, out = wl.run(spark, tracer, d)
        run_s = time.perf_counter() - t0
    return phases, run_s, out


def peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def _children(pid: int) -> list[int]:
    out = []
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(p))
            except (OSError, IndexError, ValueError):
                pass
    return out


def _descendants(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        for c in _children(todo.pop()):
            seen.append(c)
            todo.append(c)
    return seen


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    import signal

    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    procs = _descendants(os.getpid())
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def end_to_end(passes: list[dict], setup_s: list[float], rss_mb: float, attempted: int,
               failed: int, quality: list[float]) -> dict:
    """End-to-end metrics: medians over untraced passes and set-ups."""
    if not passes:
        return {}
    return {**median_dict(passes), "setup_s": statistics.median(setup_s),
            "peak_rss_mb": rss_mb, "ok_frac": 1 - failed / attempted,
            "quality": statistics.median(quality)}


def per_layer(layers: list[dict], start_s: list[float]) -> dict:
    """Per-layer metrics: medians over traced passes, plus session start."""
    if not layers:
        return {}
    return {**median_dict(layers), "session.start_s": statistics.median(start_s)}


def _log(msg: str) -> None:
    print(f"[{time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def median_dict(rows: list[dict]) -> dict:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = load_spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    run_id = f"{args.workload}-s{args.seed}"
    work = os.path.join(os.getcwd(), ".bench_work", f"{run_id}-{os.getpid()}")
    configure_env(work)
    try:
        return _run(args, run_id, work, units, wanted)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, run_id, work, units, wanted) -> int:
    import gen
    from metrics import EXTRAS, layer_metrics
    from spans import Tracer, dump_spans
    from workloads import WORKLOADS

    from spark_text_clustering_spark.session import get_session

    wl = WORKLOADS[args.workload]()
    src, warm_src = os.path.join(work, "inputs"), os.path.join(work, "warm")
    truth = gen.generate(args.workload, src, args.seed)
    gen.generate(args.workload, warm_src, args.seed + 1_000_003, scale=WARM_SCALE)

    setup_s, start_s = [], []
    attempted = failed = 0
    untraced, traced, layers, quality, all_spans = [], [], [], [], []
    first, spark = None, None
    measured, n = 0.0, 0
    try:
        for i in range(N_SETUPS):
            t0 = time.perf_counter()
            spark = get_session("perfbench", master=MASTER)
            start_s.append(time.perf_counter() - t0)
            spark.sparkContext.setLogLevel("ERROR")
            fresh_copy(warm_src, os.path.join(work, f"warm{i}"))
            wl.warm(spark, os.path.join(work, f"warm{i}"))
            setup_s.append(time.perf_counter() - t0)
            _log(f"setup {i}: session {start_s[-1]:.2f} s, total {setup_s[-1]:.2f} s")
            if i < N_SETUPS - 1:
                spark.stop()

        while True:
            tr = Tracer(spark, f"{run_id}-p{n}", bool(args.trace))
            d = os.path.join(work, f"pass{n:03d}")
            attempted += wl.n_ops
            try:
                phases, run_s, out = one_pass(spark, wl, src, d, tr)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                failed += 1
                break
            errs, n_checks, q = wl.check(out, d, truth, first)
            attempted += max(n_checks, len(errs))
            failed += len(errs)
            for e in errs:
                print(f"CHECK FAILED [{args.workload} pass {n}]: {e}", file=sys.stderr)
            first = first or out
            quality.append(q)
            (traced if tr.enabled else untraced).append({"run_s": run_s, **phases})
            if tr.enabled:
                tr.collect(tr.spans)
                m = layer_metrics(tr.spans, em_iterations=getattr(wl, "max_iterations", 1))
                m.update(dict.fromkeys(EXTRAS, 0.0))
                m.update(wl.extras(spark, out, d))
                m["ckpt.pinned_rdds"] = tr.pinned_rdds
                m["trace.overhead_s"] = tr.overhead_s
                m["trace.run_s"] = run_s
                layers.append(m)
                all_spans += tr.spans
            shutil.rmtree(d, ignore_errors=True)
            _log(f"pass {n}{' traced' if tr.enabled else ''}: run {run_s:.2f} s {phases}")
            measured += run_s
            n += 1
            if measured >= args.seconds:
                break
        rss = peak_rss_mb(spark)
    finally:
        if spark is not None:
            shutdown(spark)

    if args.trace:
        metrics = per_layer(layers, start_s)
        os.makedirs(".bench_out", exist_ok=True)
        dump_spans(all_spans, os.path.join(".bench_out", f"trace-{run_id}.json"))
        counts = {"traced passes": len(traced)}
    else:
        metrics = end_to_end(untraced, setup_s, rss, attempted, failed, quality)
        counts = {"passes": len(untraced), "setups": len(setup_s)}
    return _report(units, wanted, metrics, attempted, failed, counts)


def _report(units, wanted, metrics, attempted, failed, counts) -> int:
    missing = [k for k in wanted if k not in metrics]
    if missing:
        print(f"no value for {missing}", file=sys.stderr)
        failed += 1
        attempted += 1
    for k in wanted:
        if k in metrics:
            print(f"{k:40s} {metrics[k]:>16.6g} {units[k]}", file=sys.stderr)
    print(f"samples: {counts}", file=sys.stderr)
    correct = failed == 0
    print(json.dumps({
        "correct": correct, "attempted": max(attempted, 1), "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in wanted if k in metrics},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
