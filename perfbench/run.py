"""Geocoder benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload pages --seed 1 --seconds 5 --trace 0

Run from the repository root. The client drives the engine's public
functions on ``local[<nproc>]``: set-up (session, ETL, reference tables,
inputs), then batches back to back for
``--seconds`` — each batch's output is materialised before the next starts —
then the output checks. With ``--trace 0`` the last stdout line holds the
end-to-end metrics; with ``--trace 1`` a separate traced run records a span
around each layer call and reports the per-layer metrics instead. See
README.md in this directory for what each metric means.

Everything the run writes (bench world, Spark scratch, results, spans) goes
under ``.bench_build/perfbench`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

PROCESS_START = time.time()
LOAD_AT_LAUNCH = os.getloadavg()[0]
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("pages", "forward", "reverse")
LAYERS = ("etl", "tables", "batch", "mine", "forward", "reverse", "spatial")
BRUTE_FORCE_SAMPLE = 500


def host_settings() -> tuple[int, str]:
    """Cores this process may use and a driver heap sized from physical RAM
    (an eighth, 1 to 8 GiB), so the run fits the host it lands on. The
    sf0.1 world needs far less; a heap the JVM fills every run keeps its
    peak RSS from wandering with GC timing."""
    cores = len(os.sched_getaffinity(0))
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / (1 << 30)
    return cores, f"{max(1, min(8, round(ram_gib / 8)))}g"


def isolate_scratch(heap: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at WORK."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp, SPARK_LOCAL_DIRS=local, GEOSPARK_DRIVER_MEM=heap,
        # no hsperfdata files under /tmp, from the driver JVM or from the
        # short-lived launcher JVM spark-submit starts; JVM temp files under WORK
        GEOSPARK_JAVA_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # Python workers import geospark from the repository root
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    sys.path.insert(0, ROOT)


def shutdown(spark) -> None:
    """Stop Spark, then wait for the JVM and every Python worker to exit."""
    from procstat import process_tree

    proc = spark.sparkContext._gateway.proc
    pids = process_tree(proc.pid)
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


def build_tables(spark, world_dir: str, with_oa: bool, tracer):
    """ETL and reference tables (with the OA tables when ``with_oa``), each
    in its own span when tracing."""
    from contextlib import nullcontext

    from geospark import etl, oa
    from geospark.tables import GeocoderTables

    span = tracer.span if tracer else (lambda name: nullcontext())
    with span("etl"):
        osm = etl.load_osm_tables(spark, world_dir)
        struct = {k: v.cache() for k, v in etl.build_struct_tables(spark, osm).items()}
        for v in struct.values():
            v.count()
    with span("tables"):
        oa_raw, oa_tables = None, None
        if with_oa:
            with open(os.path.join(world_dir, "oa_license.txt"), "rb") as fh:
                license_text = fh.read()
            oa_raw = spark.read.parquet(os.path.join(world_dir, "oa_raw.parquet"))
            oa_tables = {k: v.cache() for k, v in
                         oa.build_oa_tables(spark, oa_raw, license_text).items()}
            for v in oa_tables.values():
                v.count()
        tables = GeocoderTables(spark, struct, osm["osm_admin"], oa=oa_tables)
    if tracer:
        spans = {sp.name: sp for sp in tracer.spans}
        n_struct = sum(v.count() for v in struct.values())
        spans["etl"].counters.update(rows_in=sum(v.count() for v in osm.values()),
                                     rows_out=n_struct)
        indexes = [tables.houses, tables.street_city, tables.street_name_prefix,
                   tables.hn_value_prefix, tables.houses_ranked, *(oa_tables or {}).values()]
        spans["tables"].counters.update(
            rows_in=n_struct + (oa_raw.count() if with_oa else 0),
            rows_out=sum(v.count() for v in indexes))
    return tables


def timed_batches(seconds: float, run_one) -> list:
    """Closed loop: run batches back to back until ``seconds`` have passed
    (at least one). Returns (wall seconds or None on error, output)."""
    done = []
    start = time.time()
    while True:
        t = time.time()
        try:
            out = run_one(len(done))
            done.append((time.time() - t, out))
        except Exception:  # a failed batch is counted, the run goes on
            traceback.print_exc()
            done.append((None, None))
        if time.time() - start >= seconds:
            return done


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "geospark", "session.py")):
        print(f"perfbench: no geospark package under {ROOT}; run from a full "
              "checkout of the repository", file=sys.stderr)
        return 2

    cores, heap = host_settings()
    isolate_scratch(heap)
    import workloads as wl
    from geospark import benchgen
    from geospark.session import get_spark

    # input generation is the benchmark's own work, not set-up
    t = time.time()
    world_dir = benchgen.ensure_bench_world(WORK, wl.SF, seed=wl.WORLD_SEED)
    rows, props = wl.generate(args.workload, args.seed)
    gen_s = time.time() - t

    spark = get_spark("perfbench", master=f"local[{cores}]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    try:
        return run(args, spark, world_dir, rows, props, gen_s, cores, heap)
    finally:
        shutdown(spark)


def run(args, spark, world_dir: str, rows: list, props: dict, gen_s: float,
        cores: int, heap: str) -> int:
    import checks
    import procstat
    import workloads as wl
    from spans import Tracer

    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._gateway.proc.pid
    tracer = Tracer(spark.sparkContext, lambda: procstat.cpu_seconds(jvm)) if args.trace else None

    tables = build_tables(spark, world_dir, args.workload == "reverse", tracer)
    inputs = wl.load_input(spark, args.workload, rows, 2 * cores)
    items = len(rows)
    setup_s = time.time() - PROCESS_START - gen_s

    reference = None
    if tracer:
        # two untraced batches first: the first is the reference output for
        # the traced batches, the second (no longer a first call) the
        # reference time for the tracing overhead
        reference = wl.run_batch(spark, tables, args.workload, inputs)
        t = time.time()
        wl.run_batch(spark, tables, args.workload, inputs)
        untraced_s = time.time() - t
        traced_parts = []

        def run_one(b):
            out, parts = wl.run_traced_batch(tracer, spark, tables, args.workload, inputs, b)
            traced_parts.append((b, parts))
            return out
    else:
        def run_one(b):
            return wl.run_batch(spark, tables, args.workload, inputs)
    cpu0 = procstat.cpu_seconds(jvm)
    steal0, ticks0 = procstat.host_cpu_ticks()
    loop_start = time.time()
    batches = timed_batches(args.seconds, run_one)
    loop_s = time.time() - loop_start
    cpu_s = procstat.cpu_seconds(jvm) - cpu0
    steal1, ticks1 = procstat.host_cpu_ticks()
    steal_share = (steal1 - steal0) / max(1, ticks1 - ticks0)
    rss_mb = procstat.peak_rss_mb(jvm)

    # ---- checks (outside the timed region) ---------------------------------
    problems = []
    key = checks.source_key(ROOT)
    outputs = [checks.df_digest(out) if wall is not None else None for wall, out in batches]
    digests = [o and o[0] for o in outputs]
    if reference is not None:  # traced: the untraced batch
        reference = checks.df_digest(reference)
    else:
        reference = next((o for o in outputs if o is not None), None)
    ref_digest, ref_rows, brute = None, 0, None
    if reference is not None:
        ref_digest, out_rows = reference
        ref_rows = len(out_rows)
        if not checks.cross_run_digest(WORK, f"{args.workload}-{args.seed}-{key}", ref_digest):
            problems.append("output digest differs from an earlier run with this seed")
        if args.workload != "forward":
            if args.workload == "pages":
                bad, n = checks.pages_reverse_mismatches(
                    tables, rows, out_rows, wl.PAGES_REV_RADIUS, BRUTE_FORCE_SAMPLE, args.seed)
            else:
                bad, n = checks.reverse_mismatches(
                    tables, rows, out_rows, BRUTE_FORCE_SAMPLE, args.seed)
            brute = f"{bad}/{n} mismatches"
            if bad:
                problems.append(f"brute-force top-k: {brute}")
    failed = sum(d is None or d != ref_digest for d in digests)
    if failed:
        problems.append(f"{failed} batch(es) failed or changed their output")
    parity = checks.parity(spark, ROOT, WORK, key)
    for name in checks.PARITY_QUERIES:
        if parity[name][0] != "pass":
            problems.append(f"oracle parity {name}: {parity[name]}")

    walls = [w for w, _ in batches if w is not None]
    batch_s = statistics.median(walls) if walls else float("nan")
    unit = "pages" if args.workload == "pages" else "queries"
    if tracer:
        for b, parts in traced_parts:
            wl.record_rows(tracer, parts, b)
            bad = wl.spatial_mismatches(parts["spatial_out"])
            if bad:
                problems.append(f"batch {b}: {bad} rows whose admin names the PIP does not find")
        metrics = tracer.metrics(LAYERS)
        if traced_parts:
            funnel = wl.funnel(tables, traced_parts[0][1])
            metrics.update({k: (v, "count") for k, v in funnel.items()})
        overhead = batch_s / untraced_s - 1
        tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json"))
    else:
        metrics = {
            "items_per_s": (items / batch_s, "1/s"),
            "cpu_ms_per_item": (1e3 * cpu_s / (items * len(batches)), "ms"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (rss_mb, "MB"),
        }

    # ---- report ----------------------------------------------------------------
    result = dict(
        workload=args.workload, seed=args.seed, trace=args.trace, nproc=cores,
        load_at_launch=LOAD_AT_LAUNCH, steal_share=steal_share, driver_heap=heap,
        input_gen_s=gen_s,
        inputs=props, batch_items=items, batches=len(batches), failed=failed,
        failed_ratio=failed / len(batches), batch_walls_s=[w for w, _ in batches],
        loop_s=loop_s, output_rows=ref_rows, digest=ref_digest,
        brute_force=brute, parity=parity, problems=problems,
        metrics={k: {"value": v, "unit": u} for k, (v, u) in metrics.items()})
    if tracer:
        result.update(untraced_batch_s=untraced_s, trace_overhead=overhead)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{args.workload}-{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(result, fh, indent=1)

    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
          f"nproc={cores} load_at_launch={LOAD_AT_LAUNCH:.2f} driver_heap={heap}")
    print("inputs " + " ".join(f"{k}={v:.4g}" for k, v in props.items()))
    print(f"batches {len(batches)} timed, {items} {unit} each, "
          f"median {batch_s:.3f} s; output {ref_rows} rows, digest {(ref_digest or '')[:16]}; "
          f"host CPU steal {steal_share:.1%}")
    if tracer:
        print(f"trace overhead {overhead:+.1%} (untraced batch {untraced_s:.3f} s)")
    for name, (v, u) in metrics.items():
        print(f"  {name:<28} {v:>14.4f} {u}")
    print(f"  {'failed_ratio':<28} {failed / len(batches):>14.4f} "
          f"({failed}/{len(batches)} batches)")
    print("checks: " + ("ok" if not problems else "FAILED: " + "; ".join(problems))
          + f" (brute force {brute}, parity "
          + ", ".join(f"{n} {parity[n][0]}" for n in checks.PARITY_QUERIES)
          + (" cached" if parity["cached"] else "") + ")")
    print(json.dumps({"correct": not problems, "attempted": len(batches), "failed": failed,
                      "metrics": result["metrics"]}))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
