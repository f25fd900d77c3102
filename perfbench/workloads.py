"""The benchmark's workloads, driven only through the engine's public calls.

Both workloads build their own index from the generated turns, open it with
``preload()`` and ``enable_search_cache()``, warm one request of each kind
and then run closed-loop clients for the timed phase:

``query_selective``: a small base and four clients sending distinct
rare-term requests, so each request touches a handful of posting blocks and
its time goes to planning, job scheduling and the Python-worker round trip.

``query_heavy``: a larger base and one client sending stopword and head-term
requests, one in five repeating an earlier one, so time goes to block
decoding, position intersection, shuffles and grouping joins.

The traced run then also exercises the write path: it appends a delta of
turns carrying terms found nowhere else, opens a fresh Corpus whose requests
must find them, compacts, and asks again.

Expected answers come from expect.py: they are computed while the JVM starts
and compared with the results after the run.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import shutil
import sys
import threading
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

from blacklab_spark import oracle
from perfbench import engine, gen
from perfbench.expect import Expect, TokenIndex
from perfbench.trace import SparkOps, Tracer

# the build settings bench.py uses for its corpus
BUILD_ARGS = dict(salt_df_threshold=10_000, docs_per_salt=1 << 16)


@dataclass(frozen=True)
class Shape:
    base_turns: int
    clients: int
    kinds: tuple[str, ...]  # warmed up, one request each
    round: int  # the timed phase sends whole rounds of this many requests
    stream: int  # timed requests generated, more than a timed phase can send


SHAPES = {
    "query_selective": Shape(4_000, clients=4, kinds=gen.SELECTIVE_KINDS,
                             round=len(gen.SELECTIVE_KINDS), stream=60),
    # a round: the eight kinds and two repeats
    "query_heavy": Shape(12_000, clients=1, kinds=gen.HEAVY_KINDS,
                         round=2 * gen.HEAVY_REPEAT_EVERY, stream=30),
}
# the traced run's append: this many turns, carrying this many terms found
# nowhere else
DELTA_TURNS = 1_000
FRESH_TERMS = 4
# rare terms for selective requests: this document-frequency band of the base
RARE_DF = (3, 40)
CONTEXT = 2
COLLOC_WINDOW = 2
HEAVY_PAGE = 20
WARM_CLIENTS = 8
WRITE_SPANS = {"build": "build.build_index", "append": "incremental.add_to_index",
               "compact": "incremental.compact_index"}
# What a request was sent to: the base index in the timed phase, in the
# warm-up, as a probe after the timed phase or while the timed phase drains;
# the index after the append, after the compaction.
STATES = ("timed", "warm-up", "probe", "drain", "after append", "after compaction")
BASE, WARM, PROBE, DRAIN, APPENDED, COMPACTED = range(len(STATES))
COLLOC_PROBE = gen.Request("heavy_colloc", ("w0010",))


@dataclass
class Sample:
    rid: int
    req: gen.Request
    state: int
    start: float
    end: float
    result: object = None
    error: str | None = None
    repeat: bool = False
    cache_hit: bool = False  # the Corpus's search cache answered it


@dataclass
class RunResult:
    samples: list[Sample] = field(default_factory=list)
    timings: dict[str, list[float]] = field(default_factory=dict)
    stage_markers: dict[str, dict] = field(default_factory=dict)
    writes_attempted: int = 0
    query_wall_s: float = 0.0
    turns_indexed: int = 0
    text_bytes: int = 0
    index_bytes: int = 0
    peak_rss_mb: float = 0.0
    cache_hits: int = 0
    cache_misses: int = 0
    compact_written_bytes: int = 0
    ops: list[dict] = field(default_factory=list)
    probes: dict[str, Sample] = field(default_factory=dict)

    def add(self, name: str, seconds: float) -> None:
        self.timings.setdefault(name, []).append(seconds)

    def latencies_ms(self) -> list[float]:
        """Latencies of the timed phase."""
        return [(s.end - s.start) * 1e3 for s in self.samples if s.state == BASE]


@dataclass
class Inputs:
    """Everything generated from the seed, made before the session is used."""

    corpus: gen.Corpus
    checksum: str
    warm: list[gen.Request]
    stream: list[gen.Request]
    fresh: list[gen.Request]  # requests only the delta's turns answer
    answers: dict[int, dict[tuple, object]]  # state -> request key -> answer


# ----------------------------------------------------------------- calls --


def plan(corpus, req: gen.Request, tracer: Tracer):
    """Build the request's DataFrame(s); return the action that runs them and
    the result in a comparable form."""
    kind = req.kind
    if kind in ("sel_term", "sel_or3", "raw_term", "heavy_or_stop", "heavy_term_k1000"):
        return _scored(corpus.search_or(list(req.terms), k=req.k))
    if kind in ("sel_and", "heavy_and"):
        return _scored(corpus.search_and(list(req.terms), k=req.k))
    if kind in ("sel_phrase", "sel_regex"):
        return _scored(corpus.search(req.text, k=req.k))
    if kind == "heavy_phrase":
        return _scored(corpus.search_phrase(list(req.terms), k=req.k))
    if kind in ("heavy_cql_gap", "heavy_cql_seq3"):
        df = corpus.find_cql(req.text)
        return df.count
    if kind == "heavy_colloc":
        from blacklab_spark.operators.grouping import collocations_hits

        hits = corpus.spans_term(req.terms[0]).selectExpr("doc_id", "start as pos")
        with tracer.span("grouping.collocations_hits"):
            df = collocations_hits(hits, corpus.docs, COLLOC_WINDOW)
        return lambda: {r["term"]: int(r["n"]) for r in df.collect()}
    if kind == "sel_page":
        page = corpus.hits_page(req.text, context=CONTEXT, number=req.k)
        return lambda: ([tuple(r) for r in page.hits.collect()], tuple(page.summary.collect()[0]))
    if kind == "heavy_page_group":
        page = corpus.hits_page(req.text, group_by="doc_id", max_count=req.k, number=HEAVY_PAGE)
        return lambda: (
            [tuple(r) for r in page.hits.collect()],
            {int(r["doc_id"]): int(r["n_hits"]) for r in page.groups.collect()},
            tuple(page.summary.collect()[0]),
        )
    raise ValueError(f"unknown request kind {kind}")


def _scored(df):
    return lambda: [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def expected(req: gen.Request, e: Expect):
    kind, terms, o = req.kind, list(req.terms), e.oracle
    if kind in ("sel_term", "sel_or3", "raw_term", "heavy_or_stop", "heavy_term_k1000"):
        return oracle.topk_or(o, terms, req.k)
    if kind in ("sel_and", "heavy_and"):
        return oracle.topk_and(o, terms, req.k)
    if kind in ("sel_phrase", "heavy_phrase"):
        return oracle.topk_phrase(o, terms, req.k)
    if kind == "sel_regex":
        return oracle.topk_or(o, [t for t in o.postings if re.fullmatch(terms[0], t)], req.k)
    if kind == "heavy_cql_gap":
        return e.gap_count(terms[0], terms[1], 2)
    if kind == "heavy_cql_seq3":
        return len(e.sequence_starts(terms))
    if kind == "heavy_colloc":
        return e.collocations(terms[0], COLLOC_WINDOW)
    spans = e.sequence_spans(terms)
    n = len(spans)
    if kind == "sel_page":
        return e.kwic(spans[:req.k], CONTEXT), (n, 0, n, 0)
    if kind == "heavy_page_group":
        groups = Counter(d for d, _, _ in spans)
        return spans[:HEAVY_PAGE], dict(groups), (n, 0, min(n, req.k), int(n > req.k))
    raise ValueError(f"unknown request kind {kind}")


class Harness:
    """One run: the session, the tracer and everything measured."""

    def __init__(self, spark, work: Path, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.ops = SparkOps(spark, tracer)
        self.out = RunResult()
        self._rid = itertools.count()
        self._lock = threading.Lock()
        self._seen: dict[int, set] = {}  # request keys already sent, per Corpus
        self._t0 = time.perf_counter()

    def log(self, what: str, seconds: float) -> None:
        """One line of the run's timeline on stderr."""
        print(f"  [{time.perf_counter() - self._t0:7.1f} s] {what} {seconds:.2f} s",
              file=sys.stderr, flush=True)

    def write(self, name: str, fn) -> None:
        """Run one index write, time it and record it under ``name``."""
        # Corpus.preload() persists the docs table. Spark serves any later
        # read of the same path from that copy, so without this compact_index
        # rebuilds from the pre-append docs and drops the appended turns.
        self.spark.catalog.clearCache()
        self.out.writes_attempted += 1
        t0 = time.perf_counter()
        with self.tracer.span(WRITE_SPANS[name]), self.ops.op(name):
            fn()
        seconds = time.perf_counter() - t0
        self.out.add(name, seconds)
        self.log(name, seconds)

    def open(self, path: str, serving: bool = True):
        """A fresh Corpus; in serving mode preloaded, with the search cache on."""
        from blacklab_spark import Corpus

        t0 = time.perf_counter()
        with self.tracer.span("corpus.open"):
            corpus = Corpus(self.spark, path)
        t1 = time.perf_counter()
        self.out.add("corpus.open", t1 - t0)
        if not serving:
            return corpus
        with self.tracer.span("corpus.preload"), self.ops.op("preload"):
            corpus.preload()
        t2 = time.perf_counter()
        self.out.add("corpus.preload", t2 - t1)
        self.log("open+preload", t2 - t0)
        return corpus.enable_search_cache()

    def request(self, corpus, req: gen.Request, state: int) -> Sample:
        rid = next(self._rid)
        sample = Sample(rid, req, state, time.perf_counter(), 0.0)
        with self._lock:
            seen = self._seen.setdefault(id(corpus), set())
            sample.repeat = req.key in seen
            seen.add(req.key)
        # exact with one client in flight (query_heavy, the probes); with more,
        # another client's hit may be counted here
        cache = getattr(corpus, "_search_cache", None)
        hits = cache.hits if cache is not None else 0
        try:
            with self.tracer.span("request", request=rid), self.ops.op(req.kind, rid):
                with self.tracer.span("corpus.plan"):
                    action = plan(corpus, req, self.tracer)
                with self.tracer.span("corpus.exec"):
                    sample.result = action()
        except Exception:  # a failed request is counted; the run goes on
            sample.error = traceback.format_exc()
            print(sample.error, file=sys.stderr)
        sample.end = time.perf_counter()
        sample.cache_hit = cache is not None and cache.hits > hits
        return sample

    def burst(self, corpus, requests, seconds: float, clients: int, state: int,
              round_size: int = 1) -> list[Sample]:
        """Closed loop: each client sends its next request when the previous
        one returns, until ``seconds`` have passed and a whole number of
        rounds has been sent, or the requests run out. Until the last of
        those returns, a client with nothing left to send keeps sending
        requests that are checked but not timed (DRAIN), so every timed
        request runs with all clients busy."""
        it = iter(requests)
        samples: list[Sample] = []
        sent = in_flight = 0
        deadline = time.perf_counter() + seconds

        def client():
            nonlocal sent, in_flight
            while True:
                with self._lock:
                    done = time.perf_counter() >= deadline and sent % round_size == 0
                    if done and not in_flight:
                        return
                    req = next(it, None)
                    if req is None:
                        return
                    if not done:
                        sent += 1
                        in_flight += 1
                sample = self.request(corpus, req, DRAIN if done else state)
                with self._lock:
                    samples.append(sample)
                    in_flight -= not done

        threads = [threading.Thread(target=client) for _ in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return samples

    def measure(self, corpus, requests, seconds: float, clients: int, state: int,
                round_size: int = 1) -> None:
        start = time.perf_counter()
        samples = self.burst(corpus, requests, seconds, clients, state, round_size)
        self.out.samples += samples
        if state == BASE:  # until the last timed request returned
            self.out.query_wall_s += max(s.end for s in samples if s.state == BASE) - start
        self.log(f"requests {STATES[state]}", time.perf_counter() - start)

    def warm(self, corpus, requests) -> None:
        """Run each warm-up request once; its result is checked, not timed."""
        t0 = time.perf_counter()
        self.out.samples += self.burst(corpus, requests, float("inf"), WARM_CLIENTS, WARM)
        self.log("warm-up", time.perf_counter() - t0)


def dir_bytes(path: str) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


def file_stamps(path: str) -> dict[str, tuple[tuple[int, int], int]]:
    """File -> ((inode, mtime ns), size) for every file under ``path``."""
    out = {}
    for f in Path(path).rglob("*"):
        if f.is_file():
            st = f.stat()
            out[str(f)] = ((st.st_ino, st.st_mtime_ns), st.st_size)
    return out


def read_markers(path: str) -> dict[str, dict]:
    markers = {}
    for stage in ("docs", "stats", "term_dict", "postings", "manifest"):
        with open(os.path.join(path, "_checkpoints", f"{stage}.json")) as f:
            markers[stage] = json.load(f)
    return markers


def first_of_each(requests, kinds) -> list[gen.Request]:
    """The first request of each kind, in stream order."""
    first: dict[str, gen.Request] = {}
    for r in requests:
        if r.kind in kinds:
            first.setdefault(r.kind, r)
    return list(first.values())


def rare_band(e: Expect) -> list[str]:
    return sorted(t for t in e.ix.vocab
                  if t.startswith("w") and RARE_DF[0] <= e.oracle.df(t) <= RARE_DF[1])


# ------------------------------------------------------------- workloads --


def corpus_for(workload: str, seed: int) -> gen.Corpus:
    return gen.make_corpus(seed, SHAPES[workload].base_turns, DELTA_TURNS, FRESH_TERMS)


def prepare(workload: str, seed: int) -> Inputs:
    """The workload's inputs and request streams; no Spark needed."""
    shape = SHAPES[workload]
    corpus = corpus_for(workload, seed)
    ix = TokenIndex(list(corpus.everything()["text"]))
    base, everything = Expect(ix, shape.base_turns), Expect(ix, len(ix.tokens))
    if workload == "query_selective":
        tokens, band = ix.tokens[:shape.base_turns], rare_band(base)

        def make(part, n):
            return gen.selective_stream(seed, tokens, band, n, part)
    else:
        def make(part, n):
            return gen.heavy_stream(seed, n, part)
    stream = make(0, shape.stream)
    warm = first_of_each(make(1, 2 * len(shape.kinds)), shape.kinds)
    fresh = [gen.Request("raw_term", (t,), k=20) for t in gen.fresh_terms(FRESH_TERMS)]
    on_base = {r.key: expected(r, base) for r in [*warm, *stream, COLLOC_PROBE]}
    on_all = {r.key: expected(r, everything) for r in fresh}  # compaction keeps doc ids
    answers = {BASE: on_base, WARM: on_base, PROBE: on_base, DRAIN: on_base,
               APPENDED: on_all, COMPACTED: on_all}
    return Inputs(corpus, gen.corpus_checksum(corpus), warm, stream, fresh, answers)


def run_workload(h: Harness, workload: str, inp: Inputs, seconds: float):
    """Build, open, warm, then the timed phase. Returns the set-up seconds
    (build, open and warm-up), the last Corpus opened and the index path.
    The traced run then appends and compacts."""
    from blacklab_spark import build_index
    from blacklab_spark.incremental import add_to_index, compact_index

    shape = SHAPES[workload]
    base_df = h.spark.createDataFrame(inp.corpus.base)
    path = str(h.work / "index")

    t_setup = time.perf_counter()
    h.write("build", lambda: build_index(h.spark, base_df, path, **BUILD_ARGS))
    corpus = h.open(path)
    # warm up on a second Corpus, so the timed one's search cache starts empty
    h.warm(h.open(path, serving=False), inp.warm)
    setup_s = time.perf_counter() - t_setup

    h.measure(corpus, inp.stream, seconds, shape.clients, BASE, shape.round)
    out = h.out
    cache = corpus._search_cache  # the PlanCache enable_search_cache() made
    out.cache_hits, out.cache_misses = cache.hits, cache.misses
    out.peak_rss_mb = engine.peak_rss_mb(engine.descendants())
    out.index_bytes = dir_bytes(path)
    out.stage_markers = read_markers(path)
    out.turns_indexed = shape.base_turns
    out.text_bytes = int(inp.corpus.base["text"].str.encode("utf-8").str.len().sum())

    if h.tracer.enabled:
        # layers the timed phase may not reach: a repeated request, which the
        # search cache answers, and a collocation request
        first = next(s.req for s in out.samples if s.state == BASE)
        for name, req in (("cache_hit", first), ("collocation", COLLOC_PROBE)):
            out.probes[name] = h.request(corpus, req, PROBE)
            out.samples.append(out.probes[name])
        # the write path, on a copy so the timed index stays as it was
        copy = writes_path(path)
        shutil.copytree(path, copy)
        delta_df = h.spark.createDataFrame(inp.corpus.delta)
        h.write("append", lambda: add_to_index(h.spark, delta_df, copy))
        h.measure(h.open(copy, False), inp.fresh, float("inf"), shape.clients, APPENDED)
        before = file_stamps(copy)
        h.write("compact", lambda: compact_index(h.spark, copy))
        out.compact_written_bytes = sum(
            size for f, (stamp, size) in file_stamps(copy).items()
            if before.get(f, (None,))[0] != stamp)
        h.measure(h.open(copy, False), inp.fresh, float("inf"), shape.clients, COMPACTED)
    return setup_s, corpus, path


def writes_path(path: str) -> str:
    return path + "-writes"


def check(out: RunResult, answers: dict[int, dict[tuple, object]]) -> int:
    """Compare every result with its precomputed answer; return the failures."""
    failed = 0
    for s in out.samples:
        if s.error is None:
            want = answers[s.state][s.req.key]
            if s.result == want:
                continue
            print(f"wrong result for {s.req} {STATES[s.state]}: got {s.result!r:.300} "
                  f"expected {want!r:.300}", file=sys.stderr)
        failed += 1
    return failed


def clean(work: Path) -> None:
    shutil.rmtree(work, ignore_errors=True)
