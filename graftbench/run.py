#!/usr/bin/env python3
"""Steady end-to-end benchmark of the engine, with a traced per-layer run.

    python3 graftbench/run.py --workload analytics --seed 1 --seconds 12 --trace 0

Run from the repository root. One run is one Spark application on
``local[<cpus>]`` and a closed loop: one client thread issues the items of
a pass one after another. A run makes, in order,

1. the set-up: Spark session, then the operator registry import
   (``setup_s``);
2. the first pass in the fresh JVM (``first_pass_s``);
3. a fixed number of warm-up passes, chosen per workload to get past the
   JIT ramp;
4. ``ceil(seconds / nominal pass seconds)`` measured passes
   (``wall_s``, ``cpu_s``). The clock never decides how many passes run,
   so a slow host runs the same work as a fast one;
5. with ``--trace 1``, one more pass with spans and Spark counters on,
   and the layer probes that run outside Spark. A traced run also traces
   its first pass, for the Python worker start-up metrics.

Between passes, outside the timing, the session caches are cleared; if
the block manager still holds a persisted RDD, every item of the next
pass fails. Every pass reads its own input path. Every item's output is
checked against its expected digest; a mismatch or an exception counts
as a failed item.

The last line of stdout is the result. The full record (every pass wall,
every item, host interference, spans) is written under
``graftbench/records/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import sys
import time

import host

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
RECORDS = os.path.join(HERE, "records")
DRIVER_MEM = "2g"
WORKLOAD_NAMES = ("analytics", "decode", "ingest")
SCALE = "sf0.01"  # the scale the DuckDB oracles are checked at


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measured window, in nominal pass lengths of the workload")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(run_dir: str) -> None:
    """Environment the JVM and the Python workers inherit: workers must
    import the package from the checkout, and scratch space stays under
    the benchmark's own directory."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prev if prev else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        # fixed heap and young generation: left to the JVM's adaptive
        # sizing, the peak RSS of the same run fell into two modes ~30 %
        # apart. With them fixed it follows what the old generation holds.
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Xmn384m -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"


class Ctx:
    def __init__(self, spark, seed: int, sf_dir: str, run_dir: str):
        self.spark, self.seed, self.sf_dir, self.run_dir = spark, seed, sf_dir, run_dir


def isolate(spark, counters, tables, similarity) -> int:
    """Clear the session caches between passes. Returns how many RDDs the
    block manager still holds afterwards; every item of the next pass
    fails unless that is zero."""
    spark.catalog.clearCache()
    tables.invalidate_table_cache()
    similarity.reset_kmeans_caches(spark)
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    counters.settle()
    return counters.persisted_rdds()


def trace_load_table(tracer) -> None:
    """Record a span around every ``tables.load_table`` call, by rebinding
    the name in the engine modules that imported it."""
    from input_data_pipeline_spark import tables

    orig = tables.load_table

    def load_table(spark, sf_dir, name):
        with tracer.span("tables.load_table", table=name):
            return orig(spark, sf_dir, name)

    for mod_name, mod in list(sys.modules.items()):
        if mod_name.startswith("input_data_pipeline_spark") and getattr(mod, "load_table", None) is orig:
            mod.load_table = load_table


def stop_spark(spark) -> None:
    """Stop the application, then the JVM and every process under it (the
    Python worker daemon and its workers), and wait for all of them."""
    pids = [p for p in host.tree_pids() if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait()
    sig, deadline = signal.SIGTERM, time.monotonic() + 10
    while alive := [p for p in pids if os.path.exists(f"/proc/{p}")]:
        for p in alive:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.05)


def main(argv=None) -> int:
    args = parse_args(argv)
    started = host.process_start_s()
    sys.path.insert(0, ROOT)
    try:
        from input_data_pipeline_spark import session
        from input_data_pipeline_spark.plans import registry
    except ImportError as e:
        print(f"graftbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    sf_dir = os.path.join(os.path.dirname(session.DEFAULT_SF_DIR), SCALE)
    if not os.path.isdir(sf_dir):
        print(f"graftbench: test data not found at {sf_dir}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    if os.path.exists(run_dir):
        shutil.rmtree(run_dir)
    configure_env(run_dir)

    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
              "scale": SCALE, "passes": []}
    spark = None
    try:
        t0 = time.perf_counter()
        spark = session.get_spark(f"graftbench-{args.workload}")
        get_spark_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        registry._load_all()
        import_s = time.perf_counter() - t0
        setup_s = host.since_boot_s() - started
        record["setup"] = {"setup_s": setup_s, "session.get_spark_s": get_spark_s,
                           "registry.import_s": import_s}

        # imported after the timed registry import: check_oracle (the
        # digest) imports operator modules of its own
        from input_data_pipeline_spark import tables
        from input_data_pipeline_spark.operators import similarity
        import layers
        import workloads
        from bench import yardstick

        t0 = time.perf_counter()
        record["yardstick"] = yardstick()
        overhead = {"yardstick_s": time.perf_counter() - t0, "isolate_s": 0.0}
        wl = workloads.WORKLOADS[args.workload]
        n_measured = max(1, math.ceil(args.seconds / wl.nominal_pass_s))
        kinds = (["first"] + ["warmup"] * wl.warmup_passes + ["measured"] * n_measured
                 + (["traced"] if args.trace else []))
        tracer = layers.Tracer(enabled=False)

        ctx = Ctx(spark, args.seed, sf_dir, run_dir)
        wl.prepare(ctx)
        record["order"] = wl.order
        recorder = layers.LayerRecorder(spark, tracer)
        if args.trace:
            trace_load_table(tracer)
        attempted = failed = 0
        for k, kind in enumerate(kinds):
            t0 = time.perf_counter()
            leftover = isolate(spark, recorder.counters, tables, similarity)
            overhead["isolate_s"] += time.perf_counter() - t0
            pass_in = wl.new_pass_input(ctx, k)
            # a traced run also traces its first pass: only there do the
            # Python workers boot, so only there can python.boot_s show
            tracer.enabled = kind == "traced" or (args.trace and kind == "first")
            if kind == "measured" and "interference_before" not in record:
                record["interference_before"] = host.interference()
            recorder.begin_pass()
            cpu0 = host.tree_cpu_s()
            t0 = time.perf_counter()
            outcomes = wl.run_pass(ctx, pass_in, recorder)
            wall = time.perf_counter() - t0
            cpu = host.tree_cpu_s() - cpu0
            if kind == "measured":
                record["interference_after"] = host.interference()
            layer_values = recorder.end_pass()
            items = []
            for name, outcome, seconds in outcomes:
                attempted += 1
                try:
                    if leftover:
                        raise RuntimeError(f"{leftover} persisted RDDs survived the cache "
                                           "clears before this pass")
                    wl.check(name, outcome)
                    items.append({"item": name, "s": seconds, "ok": True})
                except Exception as e:  # noqa: BLE001 - counted as a failed item
                    failed += 1
                    items.append({"item": name, "s": seconds, "ok": False,
                                  "error": repr(e)[:500]})
            record["passes"].append({"kind": kind, "wall_s": wall, "cpu_s": cpu,
                                     "persisted_after_clear": leftover,
                                     "items": items, "layers": layer_values})
            print(f"graftbench: {args.workload} pass {k} ({kind}) {wall:.2f} s, "
                  f"{sum(not i['ok'] for i in items)} failed", file=sys.stderr)

        # every worker of the run is still alive here (workers are reused)
        record["peak_rss_mb"] = host.tree_peak_rss_bytes() / 2**20
        if args.trace:
            import kernels

            record["kernels"] = kernels.kernel_ms_per_doc(args.seed)
            record["setup"]["registry.import_multimodal_s"] = kernels.fresh_import_s(
                "input_data_pipeline_spark.operators.multimodal")
        traced_spans = tracer.spans
    finally:
        t0 = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    overhead["stop_s"] = time.perf_counter() - t0
    record["overhead"] = overhead

    walls = {kind: [p["wall_s"] for p in record["passes"] if p["kind"] == kind]
             for kind in ("first", "warmup", "measured", "traced")}
    measured = [p for p in record["passes"] if p["kind"] == "measured"]
    wall_s = statistics.median(walls["measured"])
    record["interference"] = host.interference_delta(
        record["interference_before"], record["interference_after"])
    # how far the first measured pass still trailed the measured median:
    # large when the warm-up passes did not get past the JIT ramp
    record["ramp_gap"] = walls["measured"][0] / wall_s - 1
    record["attempted"], record["failed"] = attempted, failed

    if args.trace:
        first, traced = record["passes"][0], record["passes"][-1]
        metrics = {
            "session.get_spark_s": record["setup"]["session.get_spark_s"],
            "registry.import_s": record["setup"]["registry.import_s"],
            "registry.import_multimodal_s": record["setup"]["registry.import_multimodal_s"],
            **traced["layers"],
            # worker start-up, from the pass where the workers started
            "python.boot_s": first["layers"]["python.boot_s"],
            "python.init_s": first["layers"]["python.init_s"],
            **record["kernels"],
            "trace.overhead_s": traced["wall_s"] - wall_s,
        }
        record["spans"] = traced_spans
    else:
        metrics = {
            "setup_s": record["setup"]["setup_s"],
            "first_pass_s": walls["first"][0],
            "wall_s": wall_s,
            "cpu_s": statistics.median(p["cpu_s"] for p in measured),
            "peak_rss_mb": record["peak_rss_mb"],
        }
    record["metrics"] = metrics

    os.makedirs(RECORDS, exist_ok=True)
    path = os.path.join(RECORDS, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(f"graftbench: record written to {os.path.relpath(path, ROOT)}", file=sys.stderr)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in spec},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
