"""Temporal-engine benchmark runner.

    python3 perfbench/run.py --workload serve_reads --seed 1 --seconds 20 --trace 0

Runs one workload (serve_reads or live_ingest; see NOTES.md) from the root
of a checkout, checks every answer against an independent model, prints a
table of every metric with its unit and sample count, and ends with one
JSON line: {"correct", "attempted", "failed", "metrics"}. With `--trace 0`
the metrics are the end-to-end ones; with `--trace 1` the run traces its
set-ups, measures an untraced, a traced and a second untraced window,
reports the per-layer metrics and writes the spans to .perfbench_out/.

All temporary data (Spark local dirs, stores, temp files) lives in a fresh
directory under .perfbench_tmp/ in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HELD_OUT_SEED = 7_919  # never used while tuning; confirm claims on it too
DRIVER_MEMORY = "2g"
SETUP_REPS = 3
# reported in the JSON line: defined, and never zero, on every workload
GATED = ("setup_s", "read_p50_ms", "write_rows_per_s", "space_amp", "driver_rss_mb")


def pin_environment(tmp: str) -> dict[str, str]:
    """Fix the Spark sizing knobs the engine reads, for the machine it runs on."""
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": os.path.join(tmp, "tmp"),
    }
    for path in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(path, exist_ok=True)
    os.environ.update(env)
    return env


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def pct(values, q: int) -> float:
    """q-th percentile (1..99) by statistics.quantiles' default method."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100)[q - 1]


def start_spark(tmp: str, trace: bool):
    from fluxdb_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')} -XX:-UsePerfData",
    }
    if trace:  # keep every job of the run for the cost counters
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# -- metrics -----------------------------------------------------------------


def end_to_end(wl, setup, w, rss_mb):
    """name -> (value, unit, samples) of every end-to-end metric printed;
    the GATED ones also go into the JSON line."""
    reads = w.read_ms
    if wl.name == "serve_reads":
        # the store build: flush-sized write_batch calls, per set-up
        rates = [r["write_rows"] / r["write_s"] for r in setup["reps"]]
    else:
        # per flush cycle: rows ingested / seconds inside pipeline calls
        rates = [rows / s for _blocks, rows, s in w.cycles]
    write_rate, write_n = statistics.median(rates), len(rates)
    read_p50 = statistics.median(reads)
    by_kind = {k: [ms for ms, kk in zip(reads, w.read_kinds) if kk == k] for k in sorted(set(w.read_kinds))}
    by_chain = {c: [ms for ms, cc in zip(reads, w.read_chains) if cc == c] for c in sorted(set(w.read_chains))}
    if by_chain:
        # live_ingest: one median per finality regime, so both move the
        # headline equally and a mix of two latency levels never sets it
        read_p50 = statistics.geometric_mean(statistics.median(xs) for xs in by_chain.values())
    out = {
        "setup_s": (setup["setup_s"], "s", len(setup["reps"])),
        "read_p50_ms": (read_p50, "ms", len(reads)),
        "write_rows_per_s": (write_rate, "1/s", write_n),
        "space_amp": (wl.space_amp(), "ratio", 1),
        "driver_rss_mb": (rss_mb, "MB", 1),
        "read_p90_ms": (pct(reads, 90), "ms", len(reads)),
        **{f"read_p50_ms.{k}": (statistics.median(xs), "ms", len(xs)) for k, xs in {**by_kind, **by_chain}.items()},
        "error_rate": (w.failed / max(1, w.attempted), "ratio", w.attempted),
    }
    if wl.name == "live_ingest":
        blocks = [b / s for b, _rows, s in w.cycles]
        out["ingest_blocks_per_s"] = (statistics.median(blocks), "1/s", len(blocks))
        out["durable_lag_p50_ms"] = (statistics.median(w.lag_ms), "ms", len(w.lag_ms))
        rates = [r["write_rows"] / r["write_s"] for r in setup["reps"]]
        out["backfill_rows_per_s"] = (statistics.median(rates), "1/s", len(rates))
    return out


def headline_cost(wl, w) -> float:
    """The cost the tracing overhead is quoted on: read latency on
    serve_reads, ingest seconds per row on live_ingest."""
    if wl.name == "serve_reads":
        return statistics.median(w.read_ms)
    return w.write_s / w.write_rows


def per_layer(wl, tracer, setup_tracer, w, untraced, jvm_rss_mb):
    """name -> (value, unit) of every per-layer metric. Window layers come
    from the traced window `w`; backfill layers from the traced set-ups;
    the tracing overhead compares `w` with the `untraced` windows run
    before and after it. A metric of a layer the workload does not use
    reads 0."""
    from perfbench.trace import durations
    from perfbench.workloads import data_file_bytes

    spans = tracer.spans
    med = lambda xs, k=1.0: statistics.median(xs) * k if xs else 0.0  # noqa: E731
    m: dict[str, tuple[float, str]] = {}
    for route in ("state_at", "row_at", "singlet_at", "state_series"):
        m[f"serve.{route}.p50_ms"] = (med(durations(spans, f"serve.{route}"), 1e3), "ms")
    route_s = {s["rid"]: s["t1"] - s["t0"] for s in spans if s["name"].startswith("serve.")}
    http = [
        (s["t1"] - s["t0"]) - route_s[s["rid"]]
        for s in spans
        if s["name"] == "op.request" and s["rid"] in route_s
    ]
    m["serve.http_ms"] = (med(http, 1e3), "ms")

    flush_parents = {s["parent"] for s in spans if s["name"] == "ingest.flush"}
    m["ingest.new_block.p50_us"] = (med(durations(spans, "ingest.new_block"), 1e6), "us")
    m["ingest.irreversible.p50_us"] = (
        med(durations(spans, "ingest.irreversible", lambda s: s["id"] not in flush_parents), 1e6),
        "us",
    )
    flushes = durations(spans, "ingest.flush")
    m["ingest.flush.count"] = (len(flushes), "count")
    m["ingest.flush.p50_ms"] = (med(flushes, 1e3), "ms")
    chain_of = {s["rid"]: s["chain"] for s in spans if s["name"] == "op.read" and "chain" in s}
    for chain in ("shallow", "deep"):
        overlays = [s for s in spans if s["name"] == "ingest.overlay" and chain_of.get(s["rid"]) == chain]
        m[f"ingest.overlay.{chain}.p50_ms"] = (med([s["t1"] - s["t0"] for s in overlays], 1e3), "ms")
        m[f"ingest.overlay_rows.{chain}.mean"] = (
            statistics.fmean(s["rows"] for s in overlays) if overlays else 0.0,
            "rows",
        )

    m["forkdb.segment.p50_us"] = (med(durations(spans, "forkdb.segment"), 1e6), "us")
    m["forkdb.blocks.max"] = (getattr(wl, "max_forkdb", 0), "count")
    m["forkdb.orphan_ratio"] = (wl.orphan_ratio() if wl.name == "live_ingest" else 0.0, "ratio")

    plans = [s["t1"] - s["t0"] for s in spans if s["name"].startswith("temporal.")]
    m["temporal.plan.p50_ms"] = (med(plans, 1e3), "ms")
    scanned, returned = tracer.scan_rows()
    m["temporal.scan_rows_per_result"] = (scanned / max(1, returned), "ratio")

    m["store.changelog.p50_ms"] = (med(durations(spans, "store.changelog"), 1e3), "ms")
    writes = durations(spans, "store.write_batch")
    m["store.write_batch.count"] = (len(writes), "count")
    m["store.write_batch.p50_ms"] = (med(writes, 1e3), "ms")
    m["store.commit.p50_ms"] = (med(durations(spans, "store.commit"), 1e3), "ms")
    files = {}
    for e in wl.engines():
        files.update(data_file_bytes(os.path.join(e.store.root, "changelog")))
    m["store.files"] = (len(files), "count")
    m["store.bytes"] = (sum(files.values()), "bytes")
    m["store.commits"] = (sum(e.store.latest_commit_version() for e in wl.engines()), "count")

    # the sharded backfill runs in live_ingest's set-ups: medians over reps
    bfs = getattr(wl, "backfills", [])
    rep = lambda f: statistics.median(f(b) for b in bfs) if bfs else 0.0  # noqa: E731
    m["store.compact.s"] = (rep(lambda b: b["compact_s"]), "s")
    m["store.compact.bytes_rewritten"] = (rep(lambda b: b["compact_bytes_rewritten"]), "bytes")
    m["sharding.scatter.s"] = (rep(lambda b: b["scatter_s"]), "s")
    m["sharding.inject.s"] = (rep(lambda b: b["inject_s"]), "s")
    m["sharding.skew"] = (
        rep(lambda b: max(b["shard_rows"]) / statistics.fmean(b["shard_rows"])),
        "ratio",
    )
    m["snapshot.build.s"] = (rep(lambda b: b["index_s"]), "s")
    m["snapshot.index_rows"] = (rep(lambda b: b["index_rows"]), "rows")

    costs = {**setup_tracer.spark_costs(), **tracer.spark_costs()}
    per = lambda kind, what: (  # noqa: E731
        costs[kind][what] / costs[kind]["ops"] if costs.get(kind, {}).get("ops") else 0.0
    )
    m["spark.jobs_per_read"] = (per("read", "jobs"), "jobs")
    m["spark.tasks_per_read"] = (per("read", "tasks"), "tasks")
    m["spark.jobs_per_flush"] = (per("flush", "jobs"), "jobs")
    m["spark.tasks_per_flush"] = (per("flush", "tasks"), "tasks")
    m["spark.jobs.backfill"] = (per("backfill", "jobs"), "jobs")
    m["spark.jvm_peak_rss_mb"] = (jvm_rss_mb, "MB")

    # the untraced windows run before and after the traced one, so JVM
    # warming between windows does not pass for tracing cost
    base = statistics.fmean(headline_cost(wl, u) for u in untraced)
    m["trace.overhead_pct"] = (100.0 * (headline_cost(wl, w) - base) / base, "%")
    return m


# -- output ------------------------------------------------------------------


def print_table(title, rows):
    print(f"\n{title}")
    print(f"  {'metric':34} {'value':>14}  {'unit':8} {'n':>6}")
    for name, (value, unit, n) in rows.items():
        print(f"  {name:34} {value:>14.4f}  {unit:8} {n:>6}")


def print_spans(spans):
    from perfbench.trace import self_times

    print("\nspans (traced window)")
    print(f"  {'span':34} {'count':>7} {'total_s':>9} {'self_s':>9} {'p50_ms':>9}")
    for name, (count, total, self_s) in sorted(self_times(spans).items()):
        ds = sorted(s["t1"] - s["t0"] for s in spans if s["name"] == name)
        print(f"  {name:34} {count:>7} {total:>9.3f} {self_s:>9.3f} {ds[len(ds) // 2] * 1e3:>9.3f}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "fluxdb_spark")):
        print(f"perfbench: no fluxdb_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    env = pin_environment(tmp)
    spark = wl = None
    try:
        spark = start_spark(tmp, bool(args.trace))
        session_s = time.perf_counter() - T_START
        wl = WORKLOADS[args.workload](spark, tmp, args.seed)
        t = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t
        wl.prepare()

        setup_tracer = tracer = None
        if args.trace:
            from perfbench.trace import Tracer, install_engine_wrappers

            setup_tracer = Tracer(spark)
            install_engine_wrappers(setup_tracer)
        reps = []
        try:
            for i in range(SETUP_REPS):
                reps.append(wl.setup_rep(os.path.join(tmp, f"rep-{i}"), setup_tracer))
                if i:
                    shutil.rmtree(os.path.join(tmp, f"rep-{i - 1}"), ignore_errors=True)
        finally:
            if setup_tracer is not None:
                setup_tracer.uninstall()
        setup = {
            "reps": reps,
            "setup_s": session_s + warm_s + statistics.median(r["s"] for r in reps),
        }

        window = wl.window(args.seconds)
        wl.setup_outcomes(window)
        attempted, failed, failures = window.attempted, window.failed, list(window.failures)
        if args.trace:
            tracer = Tracer(spark)
            install_engine_wrappers(tracer)
            try:
                traced = wl.window(args.seconds, tracer)
            finally:
                tracer.uninstall()
            after = wl.window(args.seconds)
            for extra in (traced, after):
                attempted += extra.attempted
                failed += extra.failed
                failures += extra.failures
        from pyspark import SparkContext

        jvm_rss = vm_hwm_mb(SparkContext._gateway.proc.pid)
        rss = vm_hwm_mb()

        print(
            f"perfbench workload={args.workload} seed={args.seed} held_out_seed={HELD_OUT_SEED} "
            f"seconds={args.seconds} trace={args.trace}"
        )
        print("env: " + " ".join(f"{k}={v}" for k, v in env.items()) + f" store_root={tmp}")
        print(
            f"setup: session {session_s:.3f} s, warm-up {warm_s:.3f} s, reps "
            + ", ".join(f"{r['s']:.3f}" for r in reps)
            + " s"
        )
        e2e = end_to_end(wl, setup, window, rss)
        print_table(f"end-to-end ({args.workload}, untraced window {window.seconds:.1f} s)", e2e)
        if args.trace:
            layers = per_layer(wl, tracer, setup_tracer, traced, (window, after), jvm_rss)
            print_table(
                f"per-layer ({args.workload}, traced window {traced.seconds:.1f} s)",
                {k: (v, u, 1) for k, (v, u) in layers.items()},
            )
            print_spans(tracer.spans)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
            setup_tracer.write(stem + "-setup-spans.jsonl", T_START)
            tracer.write(stem + "-spans.jsonl", T_START)
            print(f"\nspans written to {os.path.relpath(stem, ROOT)}-{{setup-,}}spans.jsonl")
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        else:
            metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in GATED}
        for note in failures:
            print(f"FAILED: {note}", file=sys.stderr)
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
