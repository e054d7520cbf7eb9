"""Benchmark of the ocr_spark engine on this machine's cores.

    python3 perfbench/run.py --workload extract_crawl --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. One run:

1. sets up ``setup_rounds`` times -- Spark session (``ocr_spark.session.
   get_spark`` at ``local[N]``, N from the affinity mask), inputs generated
   from the seed, the workload's warm-up passes -- and reports the median as
   ``setup_s``; the first round starts at process start and launches the
   JVM, later rounds restart the SparkContext in that JVM;
2. runs timed passes, one job at a time, until ``--seconds`` of pass wall
   are measured (at least the workload's ``min_passes``), checking every
   pass's output, and reads the peak resident memory of the process tree;
3. with ``--trace 1``, alternates instrumented and plain passes and then
   times the per-layer jobs.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the ``end_to_end`` metrics of
``BENCHMARK.json`` with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1``. Lines before it give the host shape, the input digests,
every layer metric and the failure count. The full record (passes, layer
ledger, spans) is written to ``perfbench/out/results/``; compare two of
them with ``perfbench/compare.py``.
"""

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

SIZES = {
    "full": {"crawl_pages": 16_000, "pipeline_pages": 8_000, "docs": 400, "setup_rounds": 1,
             "layer_reps": 3, "sample": 200, "core_sample": 300, "core_reps": 5},
    "smoke": {"crawl_pages": 400, "pipeline_pages": 400, "docs": 300, "setup_rounds": 2,
              "layer_reps": 1, "sample": 40, "core_sample": 40, "core_reps": 1},
}

def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("extract_crawl", "pipeline_resume", "dedup_corpus"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="full")
    return ap.parse_args(argv)


def start_session(work: Path):
    """The shipped session config at local[N], N = cores in the affinity
    mask; scratch space (shuffle, spill, temp files) under ``work``."""
    from measure import cores
    from ocr_spark.session import get_spark

    n = cores()
    return get_spark(
        master=f"local[{n}]",
        app_name="perfbench",
        shuffle_partitions=2 * n,  # get_spark's default rule, on the affinity count
        extra_conf={
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, end the JVM, and wait until every process it ran is gone."""
    import gc

    from pyspark import SparkContext

    from measure import process_tree

    gc.collect()  # release JVM object handles while the JVM still answers
    children = process_tree()[1:]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        alive = [p for p in children if _running(p)]
        if not alive:
            return
        time.sleep(0.1)
    raise RuntimeError(f"processes still running after stop: {alive}")


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def bench(args, work: Path) -> dict:
    from measure import (Tracer, cpu_jiffies, host_shape, peak_rss_by_name, process_tree,
                         reset_peak_rss, steal_share)
    from workloads import (WORKLOADS, Pass, Run, core_layers, median, noop, pass_counters,
                           timed)

    size = SIZES[args.size]
    tracer = Tracer(bool(args.trace))
    wl = WORKLOADS[args.workload]()
    run = Run(spark=None, seed=args.seed, size=size, work=str(work), tracer=tracer)
    setup_walls, warmup_walls, setup_failures = [], [], []
    session_start_s = None
    # a traced run warms up once more, so that its first (instrumented)
    # pass is not slower than the plain ones for want of warm-up
    warmups = wl.warmup_passes + args.trace

    # -- set-up rounds ------------------------------------------------------
    for k in range(size["setup_rounds"]):
        if run.spark is not None:
            run.spark.stop()
        t0 = PROCESS_START if k == 0 else time.perf_counter()
        with tracer.span("setup", k):
            with tracer.span("session.start", k):
                run.spark = start_session(work)
                run.spark.range(1).count()
            if k == 0:
                session_start_s = time.perf_counter() - t0
            dest = work / f"input-{k}"
            shutil.rmtree(work / f"input-{k - 1}", ignore_errors=True)
            with tracer.span("generate", k):
                got = wl.generate(run, str(dest))
            if run.inputs and got != run.inputs:
                setup_failures.append(f"round {k} input digests {got} != {run.inputs}")
            run.inputs = got
            for j in range(warmups):
                t1 = time.perf_counter()
                with tracer.span("warmup", k):
                    warm = Pass(-1 - j - k * warmups)
                    wl.run_pass(run, warm, instrumented=False)
                warmup_walls.append(time.perf_counter() - t1)
                setup_failures += warm.failures
        setup_walls.append(time.perf_counter() - t0)
    spark = run.spark
    host = host_shape(spark)
    print("host " + json.dumps(host), flush=True)
    for name, digest in run.inputs.items():
        print(f"input {name} sha256={digest}", flush=True)

    # -- timed passes -------------------------------------------------------
    reset_peak_rss(process_tree())
    passes, crashed = [], 0
    measured = 0.0
    while len(passes) + crashed < wl.min_passes or measured < args.seconds:
        p = Pass(len(passes) + crashed)
        t0, jiffies = time.perf_counter(), cpu_jiffies()
        try:
            wl.run_pass(run, p, instrumented=bool(args.trace) and p.id % 2 == 0)
        except Exception:  # a failed pass is counted, the run goes on
            traceback.print_exc()
            crashed += 1
            measured += time.perf_counter() - t0
            continue
        p.steal_share = steal_share(jiffies, cpu_jiffies())
        passes.append(p)
        measured += p.wall

    peak_mb = peak_rss_by_name(process_tree())

    by_id = {p.id: p for p in passes}
    for pass_id, op, msg in wl.final_checks(run):
        if pass_id in by_id:
            by_id[pass_id].fail(op, msg)
        else:
            setup_failures.append(f"warm-up {op}: {msg}")
    good = [p for p in passes if not p.failed_ops]
    if not good:
        raise RuntimeError("no pass completed without a failure")

    plain = [p for p in good if not p.counters]
    e2e = {
        "docs_per_s": median([p.docs / p.wall for p in plain or good]),
        "setup_s": median(setup_walls),
        "python_peak_rss_mb": sum(v for k, v in peak_mb.items() if k != "java"),
    }
    # the JVM's share is printed but carries no bound: its heap grows as G1
    # decides, and the same run's peak varies by a quarter from run to run
    extras = {"peak_rss_mb": (sum(peak_mb.values()), "MiB")}
    extras["steal_share"] = (median([p.steal_share for p in good]), "ratio")
    if args.workload == "pipeline_resume":
        extras["resume_s"] = (median([p.parts["resume"] for p in good]), "s")

    layers: dict[str, tuple[float, str]] = {}
    if args.trace:
        with tracer.span("ledger"):
            layers.update(wl.ledger(run, good))
            if "sources.scan_s" not in layers:
                reps = [timed(lambda: noop(wl.scan_input(run)))
                        for _ in range(size["layer_reps"])]
                layers["sources.scan_s"] = (median(reps), "s")
        layers["session.start_s"] = (session_start_s, "s")
        for c, v in pass_counters(good).items():
            layers[f"spark.{c}"] = (v, "bytes" if c.endswith("bytes") else "count")
        layers["memory.jvm_peak_mb"] = (peak_mb.get("java", 0.0), "MiB")
        with tracer.span("core"):
            for name, us in core_layers(args.seed, size["crawl_pages"], size["core_sample"],
                                        size["core_reps"]).items():
                layers[name] = (us, "us")
        instr = [p.wall for p in good if p.counters]
        layers["tracing.overhead_share"] = (
            median(instr) / median([p.wall for p in plain]) - 1 if plain else 0.0, "ratio")

    ops = passes + run.ledger_passes
    attempted = sum(p.ops for p in ops) + crashed * wl.ops_per_pass
    failed = sum(len(p.failed_ops) for p in ops) + crashed * wl.ops_per_pass
    for p in ops:
        for msg in p.failures:
            print(f"FAILED pass {p.id}: {msg}", file=sys.stderr)
    for msg in setup_failures:
        print(f"FAILED set-up: {msg}", file=sys.stderr)
    extras["failed_share"] = (failed / attempted, "ratio")

    return {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "seconds": args.seconds, "trace": args.trace, "host": host,
        "inputs": run.inputs, "setup_walls": setup_walls, "warmup_walls": warmup_walls,
        "passes": [vars(p) | {"failed_ops": sorted(p.failed_ops)} for p in ops],
        "crashed_passes": crashed, "attempted": attempted, "failed": failed,
        "correct": failed == 0 and not setup_failures,
        "end_to_end": e2e, "extras": extras, "layers": layers, "peak_mb": peak_mb,
        "spans": tracer.spans,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "ocr_spark" / "__init__.py").is_file() or not (
            ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no engine source in {ROOT}; run it from a full checkout",
              file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    out = HERE / "out"
    work = out / f"work-{args.workload}-{os.getpid()}"
    for d in ("spark-local", "warehouse", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    # the JVM and its Python workers inherit these: imports resolve to this
    # checkout, and scratch files stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    sys.path.insert(0, str(ROOT))

    spark = None
    try:
        result = bench(args, work)
    finally:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    (out / "results").mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (out / "results" / name).write_text(json.dumps(result, indent=1, default=str))

    values = result["layers"] if args.trace else {
        m["name"]: (result["end_to_end"][m["name"]], m["unit"]) for m in spec["end_to_end"]}
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    for name, (v, unit) in result["extras"].items():
        print(f"{name} {v:.6g} {unit}")
    if args.trace:
        for name, (v, unit) in sorted(result["layers"].items()):
            if name not in {m["name"] for m in wanted}:
                print(f"layer {name} {v:.6g} {unit}")
    metrics = {}
    for m in wanted:
        if m["name"] not in values:  # layer of a workload BENCHMARK.json does not list
            continue
        v, unit = values[m["name"]]  # the unit as measured: the tests hold it to m["unit"]
        metrics[m["name"]] = {"value": v, "unit": unit}
        print(f"metric {m['name']} {v:.6g} {unit}")
    print(f"operations {result['attempted']} attempted, {result['failed']} failed")
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
