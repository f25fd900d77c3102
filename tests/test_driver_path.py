"""The driver path: a query whose postings (the summed plan-time df of every
term it reads) are at most Corpus._DRIVER_MAX_POSTINGS runs the same block
kernels in-process and returns a LocalRelation, with no Spark job.

One index is opened twice: as is, every query here takes the driver path; with
the bound set to -1 on the opened Corpus, the same queries take the Spark
path. Both must return the oracle's answer bit for bit."""

import sys
import uuid
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from threading import Barrier

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from blacklab_spark import oracle as orc
from blacklab_spark.build import build_index
from blacklab_spark.corpus import Corpus, LocalFrame, local_frame
from blacklab_spark.datagen import make_transcripts
from blacklab_spark.incremental import add_to_index
from blacklab_spark.operators import grouping as G
from blacklab_spark.tokenizer import tokenize


def opened(spark, path, bound=None):
    """A Corpus with its one-time loads done (each is a job of its own: the
    term dict, parquet schema inference of both relations); `bound`
    overrides the driver path's postings bound (-1: always Spark)."""
    c = Corpus(spark, path)
    c.lookup_terms([]), c.postings, c.docs
    if bound is not None:
        c._DRIVER_MAX_POSTINGS = bound
    return c


@pytest.fixture(scope="module")
def pair(spark, tmp_root):
    pdf = make_transcripts(1500, seed=7, vocab_size=800)
    path = f"{tmp_root}/dp_default"
    build_index(spark, spark.createDataFrame(pdf), path)
    ordered = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    texts = list(ordered["text"])
    oi = orc.build_oracle_index(list(zip(range(len(texts)), texts)))
    return opened(spark, path), opened(spark, path, -1), oi, texts


@pytest.fixture(scope="module")
def picks(pair):
    """Rare terms (5 ≤ df ≤ 40), a regex over two of them, a bigram of two
    terms with df ≥ 5 and a rare AND partner, all from the oracle."""
    _, _, oi, texts = pair
    rare = sorted(t for t in oi.postings if 5 <= oi.df(t) <= 40)
    by_prefix = {}
    for t in rare:
        by_prefix.setdefault(t[:-1], []).append(t)
    pair_terms = next(v[:2] for v in by_prefix.values() if len(v) >= 2)
    regex = f"{pair_terms[0][:-1]}[{pair_terms[0][-1]}{pair_terms[1][-1]}]"
    bigram = next(
        (t, toks[p + 1])
        for t in rare
        for d, ps in sorted(oi.positions[t].items())
        for toks, p in [(tokenize(texts[d]), ps[0])]
        if p + 1 < len(toks) and oi.df(toks[p + 1]) >= 5
    )
    partner = next(t for t in sorted(oi.postings) if oi.df(t) > 200)
    return rare, regex, pair_terms, bigram, partner


def run(spark, action):
    """(result, number of Spark jobs the action ran)."""
    sc = spark.sparkContext
    group = f"dp-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def n_rows(df):
    """Rows counted in the driver: count() on a LocalRelation is a job."""
    return len(df.collect())


def spans(df):
    return sorted((r["doc_id"], r["start"], r["end"]) for r in df.collect())


SCORED = ["term", "or", "and", "regex", "regex_and", "phrase"]


def scored_case(kind, picks, oi):
    """(query on a Corpus, oracle answer) for one scored kind."""
    rare, regex, pair_terms, bigram, partner = picks
    k = 10
    if kind == "term":
        return lambda c: c.search_or([rare[0]], k), orc.topk_or(oi, [rare[0]], k)
    if kind == "or":
        q = rare[1:4]
        return lambda c: c.search_or(q, k), orc.topk_or(oi, q, k)
    if kind == "and":
        q = [rare[0], partner]
        return lambda c: c.search_and(q, k), orc.topk_and(oi, q, k)
    if kind == "regex":
        return (lambda c: c.search(f"/{regex}/", k),
                orc.topk_or(oi, sorted(pair_terms), k))
    if kind == "regex_and":
        groups = [sorted(pair_terms), [partner]]
        return (lambda c: c.search(f"+/{regex}/ +{partner}", k),
                orc.topk_and_groups(oi, groups, k))
    q = list(bigram)
    return lambda c: c.search_phrase(q, k), orc.topk_phrase(oi, q, k)


@pytest.mark.parametrize("kind", SCORED)
def test_scored_both_paths_match_oracle(spark, pair, picks, kind):
    local, remote, oi, _ = pair
    query, expect = scored_case(kind, picks, oi)
    assert expect
    got_local, jobs_local = run(spark, lambda: rows(query(local)))
    got_remote, jobs_remote = run(spark, lambda: rows(query(remote)))
    assert got_local == expect
    assert got_remote == expect
    assert jobs_local == 0  # postings read ≤ the bound: no Spark job
    assert jobs_remote > 0  # bound -1: the Spark path


def test_cql_and_page_both_paths_match_oracle(spark, pair, picks):
    local, remote, oi, texts = pair
    rare, _, _, (a, b), _ = picks
    t = rare[0]
    term_spans = sorted(
        (d, p, p + 1) for d, ps in oi.positions[t].items() for p in ps
    )
    phrase_spans = sorted(
        (d, p, p + 2)
        for d, ps in oi.positions[a].items()
        for p in ps
        if p + 1 in oi.positions[b].get(d, ())
    )
    assert phrase_spans
    toks = [tokenize(x) for x in texts]
    kwic = [
        (d, s, e, " ".join(toks[d][max(0, s - 2):s]), " ".join(toks[d][s:e]),
         " ".join(toks[d][e:e + 2]))
        for d, s, e in term_spans[:5]
    ]
    n = len(term_spans)

    def request(c):
        page = c.hits_page(f'"{t}"', context=2, number=5)
        return (
            spans(c.find_cql(f'"{t}"')),
            spans(c.find_cql(f'"{a}" "{b}"')),
            [(r["doc_id"], r["start"], r["end"], r["left"], r["match"], r["right"])
             for r in page.hits.collect()],
            tuple(page.summary.collect()[0]),
        )

    for c in (local, remote):
        got, jobs = run(spark, lambda: request(c))
        assert got == (term_spans, phrase_spans, kwic, (n, 0, n, 0))
        assert (jobs == 0) == (c is local)


def test_page_window_and_caps_both_paths(spark, pair, picks):
    """first and both caps over driver-path hits give the Spark path's
    rows, with no job. A capped window is the first hits in scan order,
    which differs between the paths; only its size is compared."""
    local, remote, _, _ = pair
    t = picks[0][0]

    def request(c):
        page = c.hits_page(f'"{t}"', first=1, number=2)
        capped = c.hits_page(f'"{t}"', max_process=3, max_count=2)
        return (
            [tuple(r) for r in page.hits.collect()],
            tuple(page.summary.collect()[0]),
            len(capped.hits.collect()),
            tuple(capped.summary.collect()[0]),
        )

    got_local, jobs_local = run(spark, lambda: request(local))
    got_remote, jobs_remote = run(spark, lambda: request(remote))
    assert got_local == got_remote
    assert len(got_local[0]) == 2 and got_local[2:] == (3, (3, 1, 2, 1))
    assert jobs_local == 0 and jobs_remote > 0


def chain_hits(texts, terms, gap_max=0):
    """Spans of `terms[0] ... terms[-1]` with 0..gap_max free tokens before
    the last term, counted from the tokens."""
    out = []
    for d, text in enumerate(texts):
        toks = tokenize(text)
        for p in range(len(toks)):
            if toks[p:p + len(terms) - 1] != terms[:-1]:
                continue
            for g in range(gap_max + 1):
                e = p + len(terms) + g
                if e <= len(toks) and toks[e - 1] == terms[-1]:
                    out.append((d, p, e))
    return sorted(out)


# query_heavy's shapes over stopwords and head terms: each reads more than
# one block's worth (128) of postings, and far fewer than the bound.
HEAVY = ["or_stop", "term_k1000", "and_stop_head", "phrase_stop", "cql_gap",
         "cql_seq3", "page_group"]


def heavy_case(kind, oi, texts):
    """(terms read, query on a Corpus, expected answer) for one heavy kind."""
    if kind == "or_stop":
        q = ["the", "of", "is"]
        return q, lambda c: rows(c.search_or(q, 10)), orc.topk_or(oi, q, 10)
    if kind == "term_k1000":
        q = ["w0002"]
        return q, lambda c: rows(c.search_or(q, 1000)), orc.topk_or(oi, q, 1000)
    if kind == "and_stop_head":
        q = ["the", "w0002"]
        return q, lambda c: rows(c.search_and(q, 10)), orc.topk_and(oi, q, 10)
    if kind == "phrase_stop":
        q = ["a", "the"]
        return q, lambda c: rows(c.search_phrase(q, 10)), orc.topk_phrase(oi, q, 10)
    if kind == "cql_gap":
        q = ["the", "to"]
        return (q, lambda c: n_rows(c.find_cql('"the" []{0,2} "to"')),
                len(chain_hits(texts, q, 2)))
    if kind == "cql_seq3":
        q = ["a", "the", "of"]
        return (q, lambda c: n_rows(c.find_cql('"a" "the" "of"')),
                len(chain_hits(texts, q)))
    q = ["a", "the"]
    hits = chain_hits(texts, q)
    n, cap = len(hits), len(hits) // 2
    groups = {}
    for d, _, _ in hits:
        groups[d] = groups.get(d, 0) + 1

    def request(c):
        page = c.hits_page('"a" "the"', group_by="doc_id", max_count=cap, number=20)
        return (
            [tuple(r) for r in page.hits.collect()],
            {r["doc_id"]: r["n_hits"] for r in page.groups.collect()},
            tuple(page.summary.collect()[0]),
        )

    return q, request, (hits[:20], groups, (n, 0, cap, 1))


@pytest.mark.parametrize("kind", HEAVY)
def test_heavy_shapes_both_paths(spark, pair, kind):
    """Stopword and head-term requests of many blocks run in the driver and
    match the oracle (or the counted answer) on both paths."""
    local, remote, oi, texts = pair
    terms, query, expect = heavy_case(kind, oi, texts)
    assert expect
    assert sum(oi.df(t) for t in set(terms)) > 128
    got_local, jobs_local = run(spark, lambda: query(local))
    got_remote, jobs_remote = run(spark, lambda: query(remote))
    assert got_local == expect
    assert got_remote == expect
    assert jobs_local == 0
    assert jobs_remote > 0


def test_group_page_with_caps_both_paths(spark, pair):
    """group_by with max_process and max_count over driver-path hits: the
    groups cover exactly the processed hits, as on Spark. Which hits are
    processed follows scan order, which differs between the paths, so only
    the group totals, window size and summary are compared."""
    local, remote, _, _ = pair

    def request(c):
        page = c.hits_page('"a" "the"', group_by="doc_id", max_process=50,
                           max_count=30, number=10)
        groups = page.groups.collect()
        return (
            len(page.hits.collect()),
            sum(r["n_hits"] for r in groups),
            page.groups.columns,
            tuple(page.summary.collect()[0]),
        )

    got_local, jobs_local = run(spark, lambda: request(local))
    got_remote, jobs_remote = run(spark, lambda: request(remote))
    assert got_local == got_remote == (10, 50, ["doc_id", "n_hits"], (50, 1, 30, 1))
    assert local.hits_page('"a" "the"', group_by="doc_id").groups.dtypes == [
        ("doc_id", "bigint"), ("n_hits", "bigint")]
    assert jobs_local == 0 and jobs_remote > 0


def test_bound_is_the_summed_df_read(spark, pair):
    """The driver takes a query when the summed df of every term it reads is
    at most the bound; one posting more and the same query runs Spark jobs.
    An AND and a gap chain are bounded by all their terms, not the rarest."""
    local, _, oi, texts = pair
    and_terms = ["the", "w0002"]
    cases = [
        (and_terms, lambda c: rows(c.search_and(and_terms, 10)),
         orc.topk_and(oi, and_terms, 10)),
        (["a", "the"], lambda c: n_rows(c.find_cql('"a" []{0,2} "the"')),
         len(chain_hits(texts, ["a", "the"], 2))),
    ]
    for terms, query, expect in cases:
        c = opened(spark, local.paths.root)
        summed = sum(oi.df(t) for t in terms)
        c._DRIVER_MAX_POSTINGS = summed
        assert run(spark, lambda: query(c)) == (expect, 0)
        c._DRIVER_MAX_POSTINGS = summed - 1
        got, jobs = run(spark, lambda: query(c))
        assert got == expect and jobs > 0


def test_tiny_split_sends_rare_term_to_spark(spark, pair, picks):
    """The driver reads only when the row groups it must read fit in one
    Spark task's split; one byte less and the same query runs on Spark."""
    local, _, oi, _ = pair
    t = picks[0][0]
    tid = int(local.lookup_terms([t])["term_id"].iloc[0])
    _, lo, hi, nbytes = local._footers("postings")
    need = int(nbytes[(lo <= tid) & (tid <= hi)].sum())
    expect = orc.topk_or(oi, [t], 10)
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, str(need))
        got, jobs = run(spark, lambda: rows(local.search_or([t], 10)))
        assert (got, jobs) == (expect, 0)
        spark.conf.set(key, str(need - 1))
        got, jobs = run(spark, lambda: rows(local.search_or([t], 10)))
        assert got == expect and jobs > 0
    finally:
        spark.conf.set(key, saved)


def test_driver_path_reads_appended_files(spark, tmp_root):
    """After add_to_index (bounds_stale, so WAND is off) a fresh Corpus's
    driver path sees the appended segment's files."""
    base = make_transcripts(600, seed=31, vocab_size=400)
    delta = make_transcripts(300, seed=32, vocab_size=400)
    delta["conv_id"] = delta["conv_id"].str.replace("conv-", "delta-")
    path = f"{tmp_root}/dp_append"
    build_index(spark, spark.createDataFrame(base), path)
    add_to_index(spark, spark.createDataFrame(delta), path)
    c = Corpus(spark, path)
    c.lookup_terms([]), c.postings
    assert c.meta["bounds_stale"] is True
    bo = base.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    do = delta.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    texts = list(bo["text"]) + list(do["text"])
    oi = orc.build_oracle_index(list(zip(range(len(texts)), texts)))
    n_base = len(bo)
    # rare terms whose postings sit in both segments
    terms = [
        t for t in sorted(oi.postings)
        if 5 <= oi.df(t) <= 40
        and min(oi.postings[t]) < n_base <= max(oi.postings[t])
    ][:3]
    assert terms
    for q in ([terms[0]], terms):
        got, jobs = run(spark, lambda: rows(c.search_or(q, 50)))
        assert got == orc.topk_or(oi, q, 50)
        assert any(d >= n_base for d, _ in got)
        assert jobs == 0


def test_vocabulary_miss_runs_no_job(spark, pair):
    """Empty results are LocalRelations: collecting them runs no job."""
    local, remote, _, _ = pair
    for c in (local, remote):
        for action in (
            lambda: c.search_or(["zzzabsent"], 10).collect(),
            lambda: c.search_phrase(["the", "zzzabsent"], 10).collect(),
            lambda: c.find_cql('"zzzabsent"').collect(),
            lambda: c.hits_page('"zzzabsent"', context=2).hits.collect(),
        ):
            got, jobs = run(spark, action)
            assert (got, jobs) == ([], 0)


def test_k0_is_the_empty_top_k(pair):
    """k=0 asks for no rows: every scored shape returns none on both paths
    (a one-term top-k and the multi-term OR's θ update must not index the
    k-th best of nothing)."""
    local, remote, _, _ = pair
    for c in (local, remote):
        for action in (
            lambda: c.search_or(["the"], k=0),
            lambda: c.search_or(["the", "w0001"], k=0),
            lambda: c.score_or(["the"], k=0),
            lambda: c.score_or(["the", "w0001"], k=0),
            lambda: c.search("the", k=0),
            lambda: c.search("the w0001", k=0),
            lambda: c.search("+the +w0001", k=0),
            lambda: c.search('"the w0001"', k=0),
        ):
            assert action().collect() == []


def test_spark_top_k_over_multi_batch_partitions(spark, pair):
    """With 3-block Arrow batches, one term's blocks reach decode_scores in
    several batches per partition; the top-k carried across them is the
    oracle's."""
    _, remote, oi, _ = pair
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        for k in (1, 7, 200):
            assert rows(remote.search_or(["the"], k)) == orc.topk_or(oi, ["the"], k)
    finally:
        spark.conf.set(key, old)


def colloc_counts(texts, hits, window):
    """Words within ±window tokens of each (doc_id, pos) hit whose doc
    exists, counted from the tokens."""
    n = Counter()
    for d, p in hits:
        if d < len(texts):
            toks = tokenize(texts[d])
            n.update(toks[max(0, p - window):p] + toks[p + 1:p + 1 + window])
    return dict(n)


def counts(df):
    return {r["term"]: r["n"] for r in df.collect()}


def term_hits(oi, term):
    return sorted((d, p) for d, ps in oi.positions[term].items() for p in ps)


def edge_hits(texts):
    """(doc_id, pos) hits on the first and last token of the shortest doc,
    the first one twice, the same in a longer doc, and a hit of no doc."""
    lens = [len(tokenize(t)) for t in texts]
    short = min((n, d) for d, n in enumerate(lens) if n)[1]
    long_ = max(range(len(lens)), key=lens.__getitem__)
    assert lens[short] < 5 < lens[long_]
    return [(short, 0), (short, lens[short] - 1), (short, 0),
            (long_, 0), (long_, lens[long_] - 1), (len(texts) + 5, 0)]


@pytest.mark.parametrize("window", [0, 1, 2, 5])
def test_collocations_in_the_driver_match_spark(spark, pair, picks, relations, window):
    """collocations_hits over driver-path hits and a Corpus's docs runs in
    the driver, with no job and no relation from the call through collect(),
    and gives the forced-Spark Corpus's rows, the token scan's and the
    counted answer: for a term's hits, for hits on a doc's first and last
    token (duplicated, in a doc shorter than the window, one of no doc) and
    for no hits."""
    local, remote, oi, texts = pair
    term, schema = picks[0][0], "doc_id long, pos int"
    edge = edge_hits(texts)

    def driver():
        hits = local.spans_term(term).selectExpr("doc_id", "start as pos")
        frames = [G.collocations_hits(h, local.docs, window) for h in (
            hits, local_frame(spark, schema, pd.DataFrame(edge, columns=["doc_id", "pos"])),
            local_frame(spark, schema))]
        assert all(isinstance(df, LocalFrame) for df in frames)
        return [counts(df) for df in frames], [df.schema for df in frames]

    relations.clear()
    (got, schemas), jobs = run(spark, driver)
    assert (jobs, relations) == (0, [])
    want = [colloc_counts(texts, term_hits(oi, term), window), colloc_counts(texts, edge, window), {}]
    assert got == want and (window == 0) == (got[0] == {})
    on_spark = [G.collocations_hits(h, remote.docs, window) for h in (
        remote.spans_term(term).selectExpr("doc_id", "start as pos"),
        spark.createDataFrame(edge, schema), spark.createDataFrame([], schema))]
    assert [counts(df) for df in on_spark] == want
    assert [df.schema for df in on_spark] == schemas
    assert counts(G.collocations(local.docs, term, window)) == want[0]


def test_kwic_in_the_driver_matches_spark(spark, pair, relations):
    """kwic_spans over driver-path spans and a Corpus's docs: a LocalFrame
    in hit order with the Spark join's columns (doc_id first, every other
    hit column kept) and rows, no relation; a zero-width hit has an empty
    match and a hit of no doc is dropped."""
    local, _, _, texts = pair
    edge = edge_hits(texts)
    rows_ = [(p, d, p + 1, f"h{i}") for i, (d, p) in enumerate(edge)]
    rows_ += [(0, edge[0][0], 0, "zero"), (0, edge[3][0], 4, "wide")]
    schema = "start int, doc_id long, end int, tag string"
    relations.clear()
    got = G.kwic_spans(local_frame(spark, schema, pd.DataFrame(
        rows_, columns=["start", "doc_id", "end", "tag"])), local.docs, 2)
    assert isinstance(got, LocalFrame)
    got_rows = [tuple(r) for r in got.collect()]
    assert relations == []
    toks = [tokenize(t) for t in texts]
    assert got_rows == [
        (d, s, e, tag, " ".join(toks[d][max(0, s - 2):s]), " ".join(toks[d][s:e]),
         " ".join(toks[d][e:e + 2]))
        for s, d, e, tag in rows_ if d < len(texts)]
    on_spark = G.kwic_spans(spark.createDataFrame(rows_, schema), local.docs, 2)
    assert sorted(got_rows) == sorted(tuple(r) for r in on_spark.collect())
    assert got.columns == on_spark.columns == [
        "doc_id", "start", "end", "tag", "left", "match", "right"]


def test_tiny_split_sends_the_docs_read_to_spark(spark, pair, picks):
    """collocations_hits and kwic_spans over driver-path hits read the docs
    in the driver while the hit docs' row groups fit in one Spark task's
    split; one byte less and they join the docs on Spark, same answer."""
    local = pair[0]
    hits = local.spans_term(picks[0][0])
    ids = np.unique(hits.table["doc_id"].to_numpy())
    _, lo, hi, nbytes = local._footers("docs")
    need = int(nbytes[np.searchsorted(ids, lo) < np.searchsorted(ids, hi, side="right")].sum())

    def answer():
        colloc = G.collocations_hits(hits.selectExpr("doc_id", "start as pos"), local.docs, 2)
        kwic = G.kwic_spans(hits, local.docs, 2)
        return (isinstance(colloc, LocalFrame), isinstance(kwic, LocalFrame),
                counts(colloc), sorted(tuple(r) for r in kwic.collect()))

    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, str(need))
        want, jobs = run(spark, answer)
        spark.conf.set(key, str(need - 1))
        got, spark_jobs = run(spark, answer)
    finally:
        spark.conf.set(key, saved)
    assert want[:2] == (True, True) and want[2] and jobs == 0
    assert got == (False, False, *want[2:]) and spark_jobs > 0


def test_spark_positions_over_multi_batch_partitions(spark, pair):
    """With 3-block Arrow batches, decode_position_blocks (mapInArrow) gets
    a term's blocks in several batches per partition: forced-Spark
    term_positions, spans_term and collocations_hits over them equal the
    driver path and the oracle."""
    local, remote, oi, texts = pair

    def answers(c):
        return (
            sorted((r["doc_id"], r["tf"], list(r["positions"]))
                   for r in c.term_positions("the").collect()),
            spans(c.spans_term("the")),
            counts(G.collocations_hits(
                c.spans_term("the").selectExpr("doc_id", "start as pos"), c.docs, 2)),
        )

    hits = term_hits(oi, "the")
    want = (
        sorted((d, len(ps), ps) for d, ps in oi.positions["the"].items()),
        [(d, p, p + 1) for d, p in hits],
        colloc_counts(texts, hits, 2),
    )
    assert len(oi.positions["the"]) > 3 * 128  # more than one 3-block batch
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        got_spark, jobs = run(spark, lambda: answers(remote))
        got_local = answers(local)
    finally:
        spark.conf.set(key, old)
    assert got_spark == got_local == want
    assert jobs > 0


def test_search_cache_does_not_persist_driver_results(spark, pair, picks):
    """The search cache persists only Spark-path frames: persist() on a
    LocalRelation would cost a job, and a hit must cost none either."""
    local, _, oi, _ = pair
    q = picks[0][:2]
    local.enable_search_cache()
    try:
        for _ in range(2):  # a miss, then a hit
            got, jobs = run(spark, lambda: rows(local.search_or(q, 10)))
            assert (got, jobs) == (orc.topk_or(oi, q, 10), 0)
        assert local._search_cache.hits == 1
    finally:
        local._search_cache = None


def test_cql_count_runs_no_job_on_the_driver_path(spark, pair):
    """count() of a driver-path CQL result is the table's row count: no
    Spark job (a LocalRelation's count() runs two)."""
    local, remote, _, texts = pair
    q, expect = '"the" []{0,2} "to"', len(chain_hits(texts, ["the", "to"], 2))
    assert run(spark, lambda: local.find_cql(q).count()) == (expect, 0)
    got, jobs = run(spark, lambda: remote.find_cql(q).count())
    assert got == expect and jobs > 0


def test_count_hits_runs_no_job_on_the_driver_path(spark, pair):
    """count_hits over driver-path hits is the table's row count, capped
    by the same rule: no Spark job, the Spark path's rows."""
    local, remote, _, texts = pair
    q, n = '"the" []{0,2} "to"', len(chain_hits(texts, ["the", "to"], 2))
    for cap, expect in ((None, (n, 0)), (n // 2, (n // 2, 1)), (n, (n, 0))):
        got = [run(spark, lambda: [tuple(r) for r in c.count_hits(q, cap).collect()])
               for c in (local, remote)]
        assert got[0] == (got[1][0], 0) and got[0][0] == [expect]
        assert got[1][1] > 0
    assert local.count_hits(q).dtypes == remote.count_hits(q).dtypes


@pytest.fixture
def relations(spark, monkeypatch):
    """The relations shipped to the JVM (createDataFrame calls) so far."""
    made = []
    create = type(spark).createDataFrame
    monkeypatch.setattr(
        type(spark), "createDataFrame",
        lambda self, *a, **kw: made.append(1) or create(self, *a, **kw),
    )
    return made


@pytest.fixture
def commands(monkeypatch):
    """The Py4J commands sent so far."""
    from py4j.clientserver import ClientServerConnection

    sent = []
    send = ClientServerConnection.send_command
    monkeypatch.setattr(
        ClientServerConnection, "send_command",
        lambda self, command, *a, **kw: sent.append(command) or send(self, command, *a, **kw),
    )
    return sent


def driver_results(c):
    """A driver-path result of every request shape, by name."""
    page = c.hits_page('"a" "the"', group_by="doc_id", max_count=30, number=20)
    return {
        "or": c.search_or(["the", "of", "is"], 10),
        "and": c.search_and(["the", "w0002"], 10),
        "phrase": c.search_phrase(["a", "the"], 10),
        "seq3": c.find_cql('"a" "the" "of"'),
        "gap": c.find_cql('"the" []{0,2} "to"'),
        "count": c.count_hits('"the" []{0,2} "to"', max_count=30),
        "page": page.hits, "groups": page.groups, "summary": page.summary,
        "kwic": c.hits_page('"a" "the"', context=2, number=5).hits,
    }


def test_reading_a_driver_result_sends_no_py4j_command(pair, relations, commands):
    """A driver result answers count() and collect() from its Arrow table,
    without a round trip to the JVM, and building it shipped no relation."""
    results = driver_results(pair[0])
    commands.clear()
    for df in results.values():
        assert df.count() == len(df.collect()) > 0
    assert commands == [] and relations == []


def test_no_relation_until_the_jvm_is_needed(spark, pair, relations):
    """A driver-path request, from the call through collect(), ships no
    relation to the JVM: not a scored request, a phrase, a 3-clause CQL
    sequence, a count or a page (grouped, or with context), and not a
    search-cache hit of one."""
    local = opened(spark, pair[0].paths.root)

    def shipped(frames):
        relations.clear()
        for df in frames():
            df.collect()
        return len(relations)

    def page(**kw):
        p = local.hits_page('"a" "the"', number=20, **kw)
        return [p.hits, p.summary] + ([p.groups] if p.groups is not None else [])

    for frames in (
        lambda: page(group_by="doc_id"),
        lambda: page(context=2),
        lambda: [local.search_phrase(["a", "the"], 10)],
        lambda: [local.find_cql('"a" "the" "of"')],
        lambda: [local.search_or(["the", "of", "is"], 10)],
        lambda: [local.count_hits('"a" "the" "of"', max_count=3)],
    ):
        assert shipped(frames) == 0
    local.enable_search_cache()
    for _ in range(2):  # a miss, then a hit
        assert shipped(lambda: [local.search_and(["the", "w0002"], 10)]) == 0
        assert shipped(lambda: [local.find_cql('"a" "the" "of"')]) == 0
    assert local._search_cache.hits == 2


def test_grouped_page_over_a_cache_hit_builds_no_relation(spark, pair, relations):
    """hits_page over a search-cache hit of its hits: the page, groups and
    summary come from the cached table, with no relation and no job."""
    local = opened(spark, pair[0].paths.root)
    local.enable_search_cache()

    def page():
        p = local.hits_page('"a" "the"', group_by="doc_id", max_count=30, number=20)
        return [[tuple(r) for r in df.collect()] for df in (p.hits, p.groups, p.summary)]

    first = page()
    assert local._search_cache.misses == 1
    relations.clear()
    assert run(spark, page) == (first, 0)
    assert local._search_cache.hits == 1 and relations == []


def test_a_transformation_builds_one_relation(spark, pair, relations):
    """The first JVM use of a driver result builds its one relation, which
    later transformations reuse: filter and a join with docs each give the
    rows the table implies. heavy_colloc's selectExpr, a plain projection,
    stays a LocalFrame and builds no relation of its own."""
    local = pair[0]
    dl = {r["doc_id"]: r["dl"] for r in local.doc_lengths().collect()}
    for name, df in driver_results(local).items():
        want = sorted(tuple(r) for r in df.collect())
        relations.clear()
        first = df.columns[0]
        assert sorted(tuple(r) for r in df.filter(F.col(first).isNotNull()).collect()) == want
        assert len(relations) == 1, name
        if "doc_id" in df.columns:
            joined = df.join(local.docs.select("doc_id", "dl"), "doc_id")
            assert sorted(tuple(r) for r in joined.collect()) == sorted(
                (r[0], *r[1:], dl[r[0]]) for r in want), name
        if "start" in df.columns:
            hits = df.selectExpr("doc_id", "start as pos")
            assert sorted(tuple(r) for r in hits.collect()) == sorted(
                r[:2] for r in want), name
        assert len(relations) == 1, name


def test_threads_share_one_cached_local_frame(spark, pair):
    """Four threads read one search-cached LocalFrame at once: collect()
    from the table, then a filter's count on its relation, which one of
    them builds first. All get the same answers."""
    local = opened(spark, pair[0].paths.root)
    local.enable_search_cache()
    q = '"the" []{0,2} "to"'
    cached = local.find_cql(q)
    start = Barrier(4)

    def client(_):
        start.wait(timeout=60)
        df = local.find_cql(q)
        return df is cached, sorted(map(tuple, df.collect())), df.filter(F.col("start") > 0).count()

    rows_ = sorted(map(tuple, cached.collect()))
    expect = (True, rows_, sum(1 for r in rows_ if r[1] > 0))
    saved = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(4) as pool:
            got = [f.result(timeout=300) for f in [pool.submit(client, i) for i in range(4)]]
    finally:
        sys.setswitchinterval(saved)
    assert got == [expect] * 4


def test_evicting_a_driver_result_sends_nothing_to_the_jvm(spark, pair, relations, commands):
    """The search cache never persists a LocalFrame, so evicting one, or
    dropping the loser of a build race, unpersists nothing: no relation is
    built and no Py4J command is sent."""
    from blacklab_spark.plans.cql import PlanCache

    local = pair[0]
    a, b, c = (local.find_cql(q) for q in ('"the"', '"a"', '"of"'))
    cache = PlanCache(max_entries=1)
    relations.clear()
    commands.clear()
    assert cache.get_or_build_key("idx", 0, "a", lambda: a) is a
    assert cache.get_or_build_key("idx", 0, "b", lambda: b) is b  # evicts a

    def race():  # another build of the same key lands first: c is dropped
        cache.get_or_build_key("idx", 0, "b2", lambda: b)
        return c

    assert cache.get_or_build_key("idx", 0, "b2", race) is b
    assert (relations, commands) == ([], [])
