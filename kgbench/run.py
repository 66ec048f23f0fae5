"""Benchmark of informers_spark's knowledge-graph job and the layers under it.

Run from the repository root:

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

One process runs one workload on a local[nproc] session from
`informers_spark.session.get_spark`:

  kg_build           generate_files(n=12000, seed) -> build_kg(backend="hash")
  entity_resolution  link_entities -> connected_components over 1,200
                     generated surface forms in planted families, then
                     pagerank(5) and label_propagation(3) over the links

A run sets up (JVM, session, Python-worker warm-up, inputs, one untimed
warm-up pass), then repeats timed passes until their walls add up to
--seconds, then checks every pass's output: the warm-up pass against an
independent oracle, every timed pass against the warm-up pass.

The last line of stdout is the result: {"correct", "attempted", "failed",
"metrics"}, with the end-to-end metrics when --trace 0 and the per-layer
metrics when --trace 1. The line before it is the run's full record. With
--trace 1 an untraced pass is followed by traced and untraced passes in
turn, so the record also gives the tracing overhead, taken between passes
that all follow the first (which runs slower); after the passes, the
query-suite sample in suite.py runs over seeded tables and its row counts
are checked. The driver heap is set from the host's memory.

Everything the run writes goes under .kgbench_work/ in the repository root
and is removed at exit. Exit code 2 means the program is not next to this
directory; 1 means the set-up or the warm-up pass failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import hostprobe
import suite
from workloads import WARMUP, WORKLOADS, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_PASSES = 200

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "triples_per_s": "1/s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.worker_warm_s": "s",
    "pass.cold_s": "s",
    "backend.mean_encode_rows_per_s": "1/s",
    "backend.token_classify_rows_per_s": "1/s",
    **{f"kg.{s}_s": "s" for s in (
        "files", "mentions", "embeddings", "triples_raw", "same_as",
        "components", "triples", "nodes", "edges", "critical_path", "write",
    )},
    "kg.out_files": "count",
    "kg.out_bytes": "bytes",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.busy_frac": "frac",
    **{f"{call}.{part}_s": "s" for call in (
        "link", "canon", "pagerank", "label_propagation",
    ) for part in ("plan", "action")},
    "link.candidates": "count",
    "link.edges": "count",
    "link.yield": "frac",
    "link.lsh": "flag",
    "canon.iterations": "count",
    "canon.distributed": "flag",
    "host.steal_frac": "frac",
    "host.load1": "load",
    "trace.overhead_frac": "frac",
    "failed_frac": "frac",
    # per-layer, not end-to-end: G1 sizes the JVM heap by GC-time
    # heuristics, and on one input the peak moved by up to 900 MB from run
    # to run
    "peak_rss_mb": "MB",
    "rss.jvm_peak_mb": "MB",
    "rss.workers_peak_mb": "MB",
    **suite.METRICS,
}


def _warm_worker(batches):
    # Python workers are long-lived; pay their imports before timing
    from informers_spark.backend.base import get_backend

    get_backend("hash")
    yield from batches


def _prepare_env(work: str) -> dict:
    """Keep every file the run writes under `work`, make the package
    importable in the Python workers, and fit the driver heap to the host."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    mem = hostprobe.host_memory_bytes()
    heap_gb = max(1, min(8, mem // 4 // 2**30))
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_gb}g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.chdir(work)  # spark-warehouse/ and friends land here
    return {"driver_heap": f"{heap_gb}g", "host_mem_gb": mem / 2**30, "local_dir": local}


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for every process
    under this one (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    kids = hostprobe.descendants(os.getpid())
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while kids and time.monotonic() < deadline:
        kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def _backend_rates(spark, seed: int) -> dict:
    """HashBackend called directly in the driver on a fixed 1024-row batch
    of corpus text, with warm token caches as a long-lived worker has."""
    from informers_spark.backend.hash_backend import HashBackend
    from informers_spark.sources.corpus import generate_files

    texts = [r.content for r in generate_files(spark, n=1024, seed=seed)
             .orderBy("file_id").select("content").collect()]
    be = HashBackend()
    out = {}
    for name, fn in (("backend.mean_encode_rows_per_s", be.mean_encode),
                     ("backend.token_classify_rows_per_s", be.token_classify)):
        fn(texts)
        rates = []
        end = time.perf_counter() + 0.5
        while time.perf_counter() < end or len(rates) < 3:
            t = time.perf_counter()
            fn(texts)
            rates.append(len(texts) / (time.perf_counter() - t))
        out[name] = statistics.median(rates)
    return out


def _median(values):
    return statistics.median(values) if values else 0.0


def run(args, t_start: float) -> int:
    wl = WORKLOADS[args.workload]()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".kgbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    record = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "cores": cores}
    record.update(_prepare_env(work))
    spark = None
    try:
        from informers_spark.session import get_spark

        spark = get_spark(app_name="kgbench", cores=cores,
                          extra_conf={"spark.local.dir": record.pop("local_dir")})
        spark.range(1).count()
        start_s = time.monotonic() - t_start
        t = time.monotonic()
        spark.range(0, cores * 4, numPartitions=cores * 2).mapInPandas(
            _warm_worker, "id long").count()
        worker_warm_s = time.monotonic() - t
        wl.stage(spark, work, args.seed)
        t = time.monotonic()
        warm = wl.run_pass(spark, WARMUP, Tracer(False))
        cold_s = time.monotonic() - t
        warm_fp = wl.fingerprint(spark, warm)
        setup_s = time.monotonic() - t_start
        record["setup"] = {"setup_s": setup_s, "session.start_s": start_s,
                           "session.worker_warm_s": worker_warm_s}
        record["cold_pass_s"] = cold_s
        print(f"kgbench: {wl.name} set up in {setup_s:.1f}s "
              f"(cold pass {cold_s:.1f}s)", file=sys.stderr)
        return _measure(args, spark, wl, warm, warm_fp, record, cores, setup_s, work)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still has its directory there


def _measure(args, spark, wl, warm, warm_fp, record, cores, setup_s, work) -> int:
    from sparkstats import SparkCounters

    counters = SparkCounters(spark) if args.trace else None
    passes: list[dict] = []
    min_passes = max(wl.min_passes, 3) if args.trace else wl.min_passes
    traced_values: list[dict] = []
    timed = 0.0
    cpu_run0 = hostprobe.cpu_times()
    with hostprobe.RssSampler() as rss:
        while len(passes) < MAX_PASSES:
            traced = bool(args.trace) and len(passes) % 2 == 1
            tr = Tracer(traced)
            if traced:
                counters.mark()
            cpu0 = hostprobe.cpu_times()
            rss.active.set()
            t = time.perf_counter()
            out, error = None, None
            try:
                out = wl.run_pass(spark, f"p{len(passes)}", tr)
            except Exception:
                error = traceback.format_exc()
                print(error, file=sys.stderr)
            wall = time.perf_counter() - t
            rss.active.clear()
            p = {"wall_s": wall, "traced": traced,
                 "steal_frac": hostprobe.steal_frac(cpu0, hostprobe.cpu_times())}
            # before the untimed fingerprint and observe jobs run
            stats = counters.since_mark() if traced else None
            if out is not None:
                try:
                    p["fingerprint"] = wl.fingerprint(spark, out)
                    p["triples"] = wl.triples(out)
                    if traced:
                        wl.observe(spark, out, tr)
                        tr.values.update(stats)
                        tr.values["spark.busy_frac"] = (
                            tr.values["spark.executor_run_s"] / (wall * cores))
                        tr.values["host.steal_frac"] = p["steal_frac"]
                        tr.values["host.load1"] = hostprobe.load1()
                        traced_values.append(tr.values)
                except Exception:
                    error = traceback.format_exc()
                    print(error, file=sys.stderr)
                finally:
                    wl.release(out)
            p["error"] = error
            passes.append(p)
            timed += wall
            if timed >= args.seconds and len(passes) >= min_passes:
                break
        record["peak_rss_mb"] = rss.peak / 2**20
        record["rss.jvm_peak_mb"] = rss.peak_jvm / 2**20
        record["rss.workers_peak_mb"] = rss.peak_workers / 2**20
    record["steal_frac"] = hostprobe.steal_frac(cpu_run0, hostprobe.cpu_times())
    record["load1"] = hostprobe.load1()

    try:
        check = wl.verify(spark, warm)
    except Exception:
        check = {"ok": False, "error": traceback.format_exc()}
        print(check["error"], file=sys.stderr)
    for p in passes:
        p["ok"] = bool(check["ok"]) and p["error"] is None and p.get("fingerprint") == warm_fp
    failed = sum(not p["ok"] for p in passes)
    paths = wl.paths(spark, warm)
    paths_ok = all(paths.get(k) == v for k, v in wl.expected_paths.items())
    if not paths_ok:
        print(f"kgbench: {wl.name} took paths {paths}, chosen for "
              f"{wl.expected_paths}", file=sys.stderr)
    record.update(check=check, paths=paths, expected_paths=wl.expected_paths,
                  paths_ok=paths_ok, failed_frac=failed / len(passes),
                  passes=[{k: v for k, v in p.items() if k != "error"} for p in passes])

    ok_untraced = [p for p in passes if not p["traced"] and "triples" in p]
    metrics = {}
    suite_ok = True
    if args.trace:
        run_tr = Tracer(True)
        run_tr.values.update({k: v for k, v in record["setup"].items() if k != "setup_s"})
        run_tr.values["pass.cold_s"] = record["cold_pass_s"]
        run_tr.values.update(_backend_rates(spark, args.seed))
        wl.run_counts(spark, warm, run_tr)
        try:
            suite_values, record["suite_check"] = suite.measure(spark, work, args.seed)
            run_tr.values.update(suite_values)
        except Exception:
            record["suite_check"] = {"ok": False, "error": traceback.format_exc()}
            print(record["suite_check"]["error"], file=sys.stderr)
        suite_ok = record["suite_check"]["ok"]
        values = dict.fromkeys(PER_LAYER, 0.0)
        for name in {k for tv in traced_values for k in tv}:
            values[name] = _median([tv[name] for tv in traced_values if name in tv])
        values.update(run_tr.values)
        traced_walls = [p["wall_s"] for p in passes if p["traced"]]
        untraced_walls = [p["wall_s"] for p in passes[1:] if not p["traced"]]
        values["trace.overhead_frac"] = _median(traced_walls) / _median(untraced_walls) - 1
        values["failed_frac"] = failed / len(passes)
        for name in ("peak_rss_mb", "rss.jvm_peak_mb", "rss.workers_peak_mb"):
            values[name] = record[name]
        unknown = set(values) - set(PER_LAYER)
        if unknown:
            raise KeyError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
        for name, unit in PER_LAYER.items():
            metrics[name] = {"value": values[name], "unit": unit}
        samples = len(traced_values)
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": _median([p["wall_s"] for p in ok_untraced]),
            "triples_per_s": _median([p["triples"] / p["wall_s"] for p in ok_untraced]),
        }
        for name, unit in END_TO_END.items():
            metrics[name] = {"value": values[name], "unit": unit}
        samples = len(ok_untraced)
    record["metrics"] = {k: {**v, "samples": 1 if k.startswith(("setup", "session"))
                             else samples} for k, v in metrics.items()}
    wl.release(warm)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({"correct": failed == 0 and suite_ok, "attempted": len(passes),
                      "failed": failed, "metrics": metrics}))
    return 0


def main(argv=None) -> int:
    t_start = time.monotonic() - hostprobe.process_age_s()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "informers_spark", "__init__.py")):
        print(f"kgbench: no informers_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        return run(args, t_start)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
