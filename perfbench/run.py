"""fozzie_spark benchmark: one seeded workload per process on local[nproc].

    python3 perfbench/run.py --workload er_jaccard --seed 1 --seconds 12 --trace 0

Run from the repository root; the library is imported from the
`fozzie_spark/` directory beside `perfbench/`. One run:

1. starts the Spark session, then generates the workload's inputs from the
   seed and writes them to parquet once (`setup_s` = session start + that
   set-up, as a one-shot job pays it);
2. runs one cold pass (`cold_wall_s`) and one untimed warm-up pass, then
   warm passes for `--seconds` (`wall_s` = their median). A pass is one
   library call from the parquet inputs to a complete result; one call is
   in flight at a time (closed loop, one client). Every pass's output is checked after its clock stops; a failed
   check counts in `failed`.
3. With `--trace 1`, the timed passes interleave untraced passes with
   traced ones: the same library call, with the functions it calls into
   each layer wrapped in timing spans from outside the library. The
   per-layer metrics are medians over the traced passes, and
   `trace_overhead_s` is the traced median minus the untraced one. A layer
   the workload does not call reads 0. A workload that BENCHMARK.json does
   not list also prints the layer metrics it alone reports.

Human-readable lines go to stdout first; the last line is one JSON object
with `correct`, `attempted`, `failed` and `metrics`. Working files go to
`.perfbench_work/` under the root and are removed at exit; a traced run
leaves its spans there as `trace-<workload>-<seed>.json`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

#: fewest timed passes, however long they take (per kind when tracing)
MIN_PASSES = 2
#: driver heap: the inputs are a few MB, so 2g leaves the shared 4-core,
#: 15 GiB box most of its memory
DRIVER_MEMORY = "2g"


def workloads() -> dict:
    """Every workload the benchmark can run. A pass costs mostly Spark's
    fixed per-stage latency, so sizes are what lets each run end in well
    under a minute. BENCHMARK.json lists er_jaccard and string_join:
    er_cosine does not fit the time budget of the recorded runs, and
    text_dedup fails its output check on the library as it stands (see
    perfbench/RECORD.md)."""
    from perfbench.workloads import ERWorkload, StringJoinWorkload, TextDedupWorkload

    return {
        w.name: w
        for w in (
            ERWorkload("er_jaccard", 800),
            ERWorkload("er_cosine", 600, method="cosine", q=3, max_distance=0.25),
            StringJoinWorkload(1500),
            TextDedupWorkload(12000),
        )
    }


def unit_of(name: str) -> str:
    """Unit of a layer metric that BENCHMARK.json does not declare."""
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("busy_frac"):
        return "ratio"
    return "count"


def start_session(work: str, cores: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Spark and its Python workers write scratch files under these
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # Python workers unpickle the library's UDFs by module name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "fozzie_spark", "__init__.py")):
        print(f"perfbench: no fozzie_spark/ package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    wl = workloads().get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    from perfbench.probe import ACCOUNTING, Tracer, tree_peak_rss_mb
    from perfbench.workloads import median_layers

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, wl.name)
    shutil.rmtree(work, ignore_errors=True)
    t0 = time.perf_counter()
    spark = start_session(work, cores)
    session_s = time.perf_counter() - t0
    try:
        inputs = os.path.join(work, "inputs")
        t0 = time.perf_counter()
        wl.setup(spark, args.seed, inputs)
        setup_s = time.perf_counter() - t0
        wl.prepare(spark, args.seed, inputs)

        tracer = Tracer(spark, cores)
        attempted = failed = 0
        walls = {"untraced": [], "traced": []}
        traced_outs = []

        def one_pass(traced: bool):
            nonlocal attempted, failed
            # the previous pass's tables go; the last pass's stay for `quality`
            shutil.rmtree(os.path.join(work, "pass"), ignore_errors=True)
            d = os.path.join(work, "pass", str(attempted))
            tracer.trace_id = attempted
            if traced:
                out = wl.run(d, tracer)
                wall = out["top"]["end"] - out["top"]["start"]
            else:
                t0 = time.perf_counter()
                out = wl.run(d)
                wall = time.perf_counter() - t0
            attempted += 1
            ok = wl.check(out)
            failed += not ok
            return out, wall

        _, cold = one_pass(False)
        # the first warm pass is still 10-25% slower than the ones after it
        one_pass(False)
        end = time.perf_counter() + args.seconds
        i = 0
        while time.perf_counter() < end or len(walls["untraced"]) < MIN_PASSES \
                or (args.trace and len(walls["traced"]) < MIN_PASSES):
            # untraced, traced, traced, untraced, ...: passes still speed up
            # a little, and this order keeps that drift out of trace_overhead_s
            traced = bool(args.trace) and i % 4 in (1, 2)
            out, wall = one_pass(traced)
            walls["traced" if traced else "untraced"].append(wall)
            if traced:
                traced_outs.append(out)
            i += 1
        wall_s = statistics.median(walls["untraced"])

        if args.trace:
            top = [o["top"] for o in traced_outs]
            metrics = median_layers(traced_outs)
            for k in ACCOUNTING:
                metrics[f"call.{k}"] = statistics.median(t[k] for t in top)
            metrics["synth.wall_s"] = setup_s
            metrics["trace_overhead_s"] = statistics.median(walls["traced"]) - wall_s
            metrics["peak_rss_mb"] = tree_peak_rss_mb(os.getpid())
            tracer.dump(os.path.join(WORK, f"trace-{wl.name}-{args.seed}.json"))
        else:
            metrics = {
                "setup_s": session_s + setup_s,
                "cold_wall_s": cold,
                "wall_s": wall_s,
                "input_rows_per_s": wl.input_rows / wall_s,
                "pairwise_f1": wl.quality(out),
            }
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    extra = sorted(set(metrics) - set(units))
    if extra and any(w["name"] == wl.name for w in spec["workloads"]):
        raise KeyError(f"undeclared metrics {extra}")
    # a layer the workload never calls reads 0
    metrics = {k: metrics.get(k, 0.0) for k in units} | {k: metrics[k] for k in extra}
    units.update((k, unit_of(k)) for k in extra)
    print(f"workload {wl.name} seed {args.seed}: {wl.input_rows} input rows; session start "
          f"{session_s:.3f} s, set-up {setup_s:.3f} s; pass walls (s): "
          f"cold {cold:.3f}, timed {' '.join(f'{w:.3f}' for w in walls['untraced'])}"
          + (f", traced {' '.join(f'{w:.3f}' for w in walls['traced'])}" if args.trace else ""))
    for k, v in metrics.items():
        print(f"  {k:36s} {v:14.6g} {units[k]}")
    print(f"  {'error_rate':36s} {failed / attempted:14.6g} failed/attempted")
    if getattr(wl, "pinned", None):
        print(f"  counts {json.dumps(wl.pinned)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
