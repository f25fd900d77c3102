"""The driver path: a query whose driving postings fit in one block runs the
same block kernels in-process and returns a LocalRelation, with no Spark job.

One corpus is built twice. With the default block_size its rare terms take
the driver path; with block_size=4 the same queries (every driving df ≥ 5)
take the Spark path. Both must return the oracle's answer bit for bit."""

import uuid

import pytest

from blacklab_spark import oracle as orc
from blacklab_spark.build import build_index
from blacklab_spark.corpus import Corpus
from blacklab_spark.datagen import make_transcripts
from blacklab_spark.incremental import add_to_index
from blacklab_spark.tokenizer import tokenize


@pytest.fixture(scope="module")
def pair(spark, tmp_root):
    pdf = make_transcripts(1500, seed=7, vocab_size=800)
    df = spark.createDataFrame(pdf)
    build_index(spark, df, f"{tmp_root}/dp_default")
    build_index(spark, df, f"{tmp_root}/dp_bs4", block_size=4)
    ordered = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    texts = list(ordered["text"])
    oi = orc.build_oracle_index(list(zip(range(len(texts)), texts)))
    local = Corpus(spark, f"{tmp_root}/dp_default")
    remote = Corpus(spark, f"{tmp_root}/dp_bs4")
    for c in (local, remote):  # one-time loads are jobs of their own:
        c.lookup_terms([])  # the term dict
        c.postings, c.docs  # parquet schema inference of both relations
    return local, remote, oi, texts


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
    assert jobs_local == 0  # driving df ≤ block_size: no Spark job
    assert jobs_remote > 0  # driving df > block_size: the Spark path


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
