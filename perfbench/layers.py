"""Per-layer numbers for the traced run, read after the timed phase.

Most come from the run itself: spans, the build's stage markers and Spark's
counters for each operation of the timed phase. A few time one layer call in
isolation on the run's own inputs (tokenizer, codecs, term lookup, CQL
parse). Where a workload never calls a layer in its timed phase, a probe
request sent after it measures the layer, so every metric is a measurement
on every workload.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

import pandas as pd

from perfbench import gen
from perfbench.stats import median
from perfbench.trace import SparkOps, self_times
from perfbench.workloads import BASE, Harness, Inputs, Sample, dir_bytes, writes_path

METRICS = (
    "session.start_s",
    "build.docs_s", "build.stats_s", "build.term_dict_s", "build.postings_s", "build.manifest_s",
    "build.postings_written", "build.blocks_written", "build.bytes_compressed",
    "tokenizer.tokens_per_s",
    "codecs.decode_postings_per_s", "codecs.decode_positions_per_s",
    "corpus.open_ms", "corpus.preload_s", "corpus.lookup_terms_ms", "corpus.plan_ms",
    "corpus.exec_ms", "corpus.read_amplification",
    "plans.parse_rewrite_ms", "plans.cache_hits", "plans.cache_misses", "plans.cache_hit_ms",
    "grouping.collocations_hits_ms", "grouping.jobs_per_collocation",
    "incremental.add_to_index_s", "incremental.compact_index_s",
    "incremental.recover_pending_ms", "incremental.compact_bytes_rewritten_per_live_byte",
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op", "spark.job_wall_ms",
    "spark.driver_gap_ms", "spark.task_run_ms", "spark.task_cpu_ms",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.input_bytes",
    "spark.spill_bytes", "spark.failed_tasks",
    "trace.hook_ms_per_op",
)
STAGES = ("docs", "stats", "term_dict", "postings", "manifest")
CQL_KINDS = ("sel_page", "heavy_cql_gap", "heavy_cql_seq3", "heavy_page_group")


def _timed(fn, repeat: int = 1) -> float:
    """Median seconds of ``repeat`` calls."""
    times = []
    for _ in range(repeat):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return median(times)


def tokens_per_s(texts: list[str]) -> float:
    from blacklab_spark.tokenizer import tokenize_series

    series = pd.Series(texts)
    n = int(tokenize_series(series).str.len().sum())
    return n / _timed(lambda: tokenize_series(series), repeat=3)


def decode_rates(corpus, path: str) -> tuple[float, float]:
    """Postings and positions decoded per second over the blocks of the
    three highest-df stopwords, read straight from the postings files."""
    import pyarrow.dataset as ds

    from blacklab_spark import codecs

    tinfo = corpus.lookup_terms(list(gen.STOPWORDS)).nlargest(3, "df")
    table = ds.dataset(os.path.join(path, "postings"), format="parquet").to_table(
        columns=["term_id", "first_doc_id", "doc_gaps", "tfs", "dls", "positions"],
        filter=ds.field("term_id").isin([int(t) for t in tinfo["term_id"]]),
    )
    blocks = table.to_pylist()
    n_postings = sum(len(codecs.decode_block(b)[0]) for b in blocks)
    n_positions = sum(len(codecs.decode_block_positions(b)) for b in blocks)
    t_post = _timed(lambda: [codecs.decode_block(b) for b in blocks], repeat=3)
    t_pos = _timed(lambda: [codecs.decode_block_positions(b) for b in blocks], repeat=3)
    return n_postings / t_post, n_positions / t_pos


def term_block_bytes(path: str) -> dict[int, int]:
    """Compressed bytes of each term's blocks."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    cols = ["doc_gaps", "tfs", "dls", "positions"]
    table = ds.dataset(os.path.join(path, "postings"), format="parquet").to_table(
        columns=["term_id", *cols])
    size = sum(pc.binary_length(table[c]).fill_null(0).to_numpy() for c in cols)
    frame = pd.DataFrame({"term_id": table["term_id"].to_numpy(), "size": size})
    return frame.groupby("term_id")["size"].sum().to_dict()


def request_terms(corpus, s: Sample) -> list[str]:
    if s.req.kind == "sel_regex":
        return corpus.expand_pattern(s.req.terms[0])
    if s.req.kind == "sel_phrase":
        return s.req.text.strip('"').split()
    return list(s.req.terms)


def job_floor(h: Harness) -> dict[str, float]:
    """The fixed cost of one job: per-job medians over three no-op Python UDF
    jobs, each its own operation."""
    def noop(batches):
        yield from batches

    df = h.spark.range(1, numPartitions=1)
    ops = SparkOps(h.spark, h.tracer)
    for _ in range(3):
        with ops.op("job_floor"):
            df.mapInArrow(noop, df.schema).collect()
    rows = ops.collect()
    return {f"job_floor_{key}": median([r[key] / r["jobs"] for r in rows])
            for key in ("wall_ms", "job_wall_ms", "task_run_ms")}


def measure(h: Harness, corpus, path: str, inputs: Inputs) -> tuple[dict, dict]:
    """(per-layer metrics in METRICS order, report details)."""
    from blacklab_spark.incremental import recover_pending
    from blacklab_spark.plans.cql import parse_cql
    from blacklab_spark.plans.rewrite import rewrite

    out = h.out
    hook_s = h.tracer.hook_seconds  # before job_floor adds its own operations
    timed = [s for s in out.samples if s.state == BASE]
    rids = {s.rid for s in timed}
    ops = [o for o in out.ops if o["request"] in rids]
    op_of = {o["request"]: o for o in ops}

    m: dict[str, float] = {"session.start_s": out.timings["session"][0]}
    for stage in STAGES:
        m[f"build.{stage}_s"] = out.stage_markers[stage]["wall_sec"]
    for key in ("postings_written", "blocks_written", "bytes_compressed"):
        m[f"build.{key}"] = out.stage_markers["manifest"][key]
    m["tokenizer.tokens_per_s"] = tokens_per_s(list(inputs.corpus.base["text"]))
    m["codecs.decode_postings_per_s"], m["codecs.decode_positions_per_s"] = decode_rates(corpus, path)

    by_name = defaultdict(list)
    for s in h.tracer.spans:
        if s.request in rids:
            by_name[s.name].append((s.end - s.start) * 1e3)
    m["corpus.open_ms"] = median(out.timings["corpus.open"]) * 1e3
    m["corpus.preload_s"] = median(out.timings["corpus.preload"])
    term_lists = {tuple(request_terms(corpus, s)) for s in timed}
    m["corpus.lookup_terms_ms"] = median(
        [_timed(lambda t=t: corpus.lookup_terms(list(t))) * 1e3 for t in term_lists])
    m["corpus.plan_ms"] = median(by_name["corpus.plan"])
    m["corpus.exec_ms"] = median(by_name["corpus.exec"])
    block_bytes = term_block_bytes(path)
    read = scanned = 0
    for s in timed:
        if not s.cache_hit and s.rid in op_of:
            ids = corpus.lookup_terms(request_terms(corpus, s))["term_id"]
            read += op_of[s.rid]["input_bytes"]
            scanned += sum(block_bytes.get(int(t), 0) for t in ids)
    m["corpus.read_amplification"] = read / scanned if scanned else 0.0

    details = report(h, timed, ops, hook_s)

    # the CQL strings of the workload: timed requests and one of each kind
    cql = {r.text for r in [*inputs.warm, *(s.req for s in timed)] if r.kind in CQL_KINDS}
    m["plans.parse_rewrite_ms"] = median(
        [_timed(lambda q=q: rewrite(parse_cql(q))) * 1e3 for q in cql])
    m["plans.cache_hits"] = out.cache_hits
    m["plans.cache_misses"] = out.cache_misses
    probes = out.probes
    hit_ms = [(s.end - s.start) * 1e3 for s in [*timed, probes["cache_hit"]] if s.cache_hit]
    m["plans.cache_hit_ms"] = median(hit_ms)

    colloc = [s for s in timed if s.req.kind == "heavy_colloc"] or [probes["collocation"]]
    all_ops = {o["request"]: o for o in out.ops}
    m["grouping.collocations_hits_ms"] = median([(s.end - s.start) * 1e3 for s in colloc])
    m["grouping.jobs_per_collocation"] = median([all_ops[s.rid]["jobs"] for s in colloc])

    copy = writes_path(path)
    m["incremental.recover_pending_ms"] = _timed(lambda: recover_pending(copy), repeat=3) * 1e3
    m["incremental.add_to_index_s"] = median(out.timings["append"])
    m["incremental.compact_index_s"] = median(out.timings["compact"])
    m["incremental.compact_bytes_rewritten_per_live_byte"] = out.compact_written_bytes / dir_bytes(copy)

    m["spark.jobs_per_op"] = median([o["jobs"] for o in ops])
    m["spark.stages_per_op"] = median([o["stages"] for o in ops])
    m["spark.tasks_per_op"] = median([o["tasks"] for o in ops])
    for key in ("job_wall_ms", "driver_gap_ms", "task_run_ms", "task_cpu_ms"):
        m[f"spark.{key}"] = median([o[key] for o in ops])
    for key in ("shuffle_read_bytes", "shuffle_write_bytes", "input_bytes", "spill_bytes"):
        m[f"spark.{key}"] = sum(o[key] for o in ops) / len(ops)
    m["spark.failed_tasks"] = sum(o["failed_tasks"] for o in ops)
    m["trace.hook_ms_per_op"] = hook_s * 1e3 / len(out.ops)

    return {k: m[k] for k in METRICS}, details


def report(h: Harness, timed: list[Sample], ops: list[dict], hook_s: float) -> dict:
    """Details for the human-readable report and the trace file."""
    out = h.out
    kinds = defaultdict(list)
    for s in timed:
        kinds[s.req.kind + (" (cache hit)" if s.cache_hit else " (repeat)" if s.repeat else "")].append(s)
    op_of = {o["request"]: o for o in ops}
    per_kind = {}
    for kind, samples in sorted(kinds.items()):
        kops = [op_of[s.rid] for s in samples if s.rid in op_of]
        per_kind[kind] = {
            "n": len(samples),
            "latency_p50_ms": median([(s.end - s.start) * 1e3 for s in samples]),
            "jobs_per_op": median([o["jobs"] for o in kops]),
            "driver_gap_ms": median([o["driver_gap_ms"] for o in kops]),
            "task_cpu_ms": median([o["task_cpu_ms"] for o in kops]),
        }
    own = self_times(h.tracer.spans)
    layer_self = defaultdict(float)
    for s in h.tracer.spans:
        layer_self[s.name] += own[s.sid]

    # per build stage: Spark task time of the jobs that started inside it
    build_jobs = [j for o in out.ops if o["kind"] == "build" for j in o["job_rows"] if "start" in j]
    per_stage = {}
    for stage, marker in out.stage_markers.items():
        inside = [j for j in build_jobs if marker["started_ts"] <= j["start"] <= marker["finished_ts"]]
        per_stage[stage] = {"wall_s": marker["wall_sec"], "jobs": len(inside),
                            "task_run_ms": sum(j["task_run_ms"] for j in inside),
                            "task_cpu_ms": sum(j["task_cpu_ms"] for j in inside)}

    floor = job_floor(h)
    wall = sum(o["wall_ms"] for o in ops) or 1.0
    writes = sum(sum(out.timings[n]) for n in ("build", "append", "compact"))
    criteria = {
        "write_share_of_write_and_query_wall": writes / (writes + out.query_wall_s),
        **floor,
        # driver gap plus, per job, the wall of a no-op job
        "fixed_cost_share_of_request_wall": sum(
            min(o["wall_ms"], o["driver_gap_ms"] + o["jobs"] * floor["job_floor_job_wall_ms"])
            for o in ops) / wall,
        # task time beyond what the same number of no-op jobs' tasks take; tasks
        # run in parallel, so this share can pass 1
        "task_time_above_floor_share_of_request_wall": sum(
            max(0.0, o["task_run_ms"] - o["jobs"] * floor["job_floor_task_run_ms"])
            for o in ops) / wall,
        "task_cpu_share_of_request_wall": sum(o["task_cpu_ms"] for o in ops) / wall,
    }
    return {"per_kind": per_kind, "layer_self_s": dict(layer_self), "build_stages": per_stage,
            "criteria": criteria, "trace_hook_s": hook_s}
