"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload query_selective --seed 1 --seconds 4 --trace 0

Human-readable lines go to stderr. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics, and the traced run also writes its spans and per-operation Spark
counters to .perfbench/trace-<workload>-<seed>.json.

Run it from anywhere: it finds the package next to its own directory, ships
it to Spark's executors itself, and writes only under .perfbench/ there.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import engine, gen, stats  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

CORES = 4
WORKLOADS = ("query_selective", "query_heavy")
CHECKSUMS = Path(__file__).resolve().parent / "checksums.json"
SPEC = engine.ROOT / "BENCHMARK.json"


def units(section: str) -> dict[str, str]:
    """Metric name -> unit for one section of BENCHMARK.json."""
    return {m["name"]: m["unit"] for m in json.loads(SPEC.read_text())[section]}


def end_to_end(out, setup_s: float) -> dict[str, float]:
    lat = out.latencies_ms()
    return {
        "setup_s": setup_s,
        "query_p50_ms": stats.median(lat),
        "qps": len(lat) / out.query_wall_s,
        "build_turns_per_s": out.turns_indexed / out.timings["build"][0],
        "index_bytes_per_input_byte": out.index_bytes / out.text_bytes,
        "peak_rss_mb": out.peak_rss_mb,
    }


def check_checksum(workload: str, seed: int, checksum: str) -> None:
    """Refuse a corpus that differs from its recorded checksum. For a seed
    with none recorded, check the generator itself: it must still make the
    recorded corpus of seed ``seed % <seeds recorded>``."""
    from perfbench import workloads

    table = json.loads(CHECKSUMS.read_text())[workload]
    want = table.get(str(seed))
    if want is None:
        proxy = seed % len(table)
        log(f"  no checksum recorded for seed {seed}; checking the generator on seed {proxy}")
        seed, want = proxy, table[str(proxy)]
        checksum = gen.corpus_checksum(workloads.corpus_for(workload, proxy))
    if want != checksum:
        raise RuntimeError(f"{workload} seed {seed}: corpus checksum {checksum} != recorded {want}")


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import workloads

    work = engine.WORK / f"{workload}-{seed}-{os.getpid()}"
    workloads.clean(work)
    # inputs are generated while the JVM starts; neither counts the other's time
    with ThreadPoolExecutor(1) as pool:
        pending = pool.submit(workloads.prepare, workload, seed)
        t0 = time.perf_counter()
        spark = engine.start_session(work, CORES)
        session_s = time.perf_counter() - t0
        inputs = pending.result()
    check_checksum(workload, seed, inputs.checksum)
    h = workloads.Harness(spark, work, Tracer(trace))
    h.out.add("session", session_s)
    try:
        setup_s, corpus, path = workloads.run_workload(h, workload, inputs, seconds)
        e2e = end_to_end(h.out, session_s + setup_s)
        failed = workloads.check(h.out, inputs.answers)
        details = {}
        if trace:
            from perfbench import layers

            h.out.ops = h.ops.collect()
            per_layer, details = layers.measure(h, corpus, path, inputs)
            (engine.WORK / f"trace-{workload}-{seed}.json").write_text(json.dumps({
                "spans": h.tracer.rows(), "ops": h.out.ops, **details}, default=str))
    finally:
        engine.stop_session(spark)
        workloads.clean(work)
    report(workload, seed, inputs.checksum, h.out, e2e, failed, details)
    attempted = len(h.out.samples) + h.out.writes_attempted
    metrics, want = (per_layer, units("per_layer")) if trace else (e2e, units("end_to_end"))
    if set(metrics) != set(want):
        raise RuntimeError(f"metrics {sorted(set(metrics) ^ set(want))} differ from {SPEC.name}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": want[k]} for k, v in metrics.items()}}


def report(workload, seed, checksum, out, e2e, failed, details) -> None:
    e2e_units = units("end_to_end")
    lat = out.latencies_ms()
    n, attempted = len(lat), len(out.samples) + out.writes_attempted
    log(f"== {workload} seed={seed} corpus sha256={checksum[:16]}")
    for name, value in e2e.items():
        log(f"  {name:28s} {value:14.4f} {e2e_units[name]}")
    tail = stats.tail_percentile(n)
    log(f"  {n} timed requests; highest percentile with >={stats.MIN_BEYOND} samples beyond it: "
        + (f"p{tail:g} = {stats.percentile(lat, tail):.1f} ms" if tail else "none"))
    log(f"  failed_ops_ratio {failed / attempted:.4f} ({failed} of {attempted})")
    for name in ("build", "append", "compact"):
        if name in out.timings:
            log(f"  {name}_p50_s {stats.median(out.timings[name]):.3f} s "
                f"over {len(out.timings[name])}")
    log(f"  search cache hits {out.cache_hits} misses {out.cache_misses} in the timed phase and its drain")
    if details:
        log("  per request kind: n, p50 ms, jobs/op, driver gap ms, task cpu ms")
        for kind, row in details["per_kind"].items():
            log(f"    {kind:26s} {row['n']:4d} {row['latency_p50_ms']:9.1f} "
                f"{row['jobs_per_op']:5.1f} {row['driver_gap_ms']:9.1f} {row['task_cpu_ms']:9.1f}")
        log("  self time by span (s): " + ", ".join(
            f"{k} {v:.2f}" for k, v in sorted(details["layer_self_s"].items(), key=lambda kv: -kv[1])))
        log("  build stages: " + ", ".join(
            f"{k} {v['wall_s']:.2f}s/{v['jobs']} jobs/{v['task_run_ms'] / 1e3:.2f}s tasks"
            for k, v in details["build_stages"].items()))
        log("  criteria: " + ", ".join(f"{k} {v:.3f}" for k, v in details["criteria"].items()))
        log(f"  tracing overhead: {details['trace_hook_s'] * 1e3:.1f} ms in hooks; "
            f"compare query_p50_ms with an untraced run of the same seed "
            f"(traced p50 here: {stats.median(lat):.1f} ms)")


def record_checksums(seeds: int) -> None:
    from perfbench import workloads

    table = {w: {str(s): gen.corpus_checksum(workloads.corpus_for(w, s)) for s in range(seeds)}
             for w in WORKLOADS}
    CHECKSUMS.write_text(json.dumps(table, indent=1, sort_keys=True) + "\n")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=4.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--record-checksums", type=int, metavar="SEEDS",
                   help="write checksums.json for seeds 0..SEEDS-1 and exit")
    args = p.parse_args(argv)
    try:
        engine.require_program()
    except engine.MissingProgram as exc:
        log(f"error: {exc}")
        return 2
    if args.record_checksums:
        record_checksums(args.record_checksums)
        return 0
    if not args.workload:
        p.error("--workload is required")
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
