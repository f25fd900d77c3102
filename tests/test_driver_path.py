"""The driver path: a query whose postings (the summed plan-time df of every
term it reads) are at most Corpus._DRIVER_MAX_POSTINGS runs the same block
kernels in-process and returns a LocalRelation, with no Spark job.

One index is opened twice: as is, every query here takes the driver path; with
the bound set to -1 on the opened Corpus, the same queries take the Spark
path. Both must return the oracle's answer bit for bit."""

import uuid

import pytest

from blacklab_spark import oracle as orc
from blacklab_spark.build import build_index
from blacklab_spark.corpus import Corpus
from blacklab_spark.datagen import make_transcripts
from blacklab_spark.incremental import add_to_index
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
