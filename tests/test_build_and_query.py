"""End-to-end build + BM25 parity vs the exact oracle.

Mirrors the reference's golden-response suite (SURVEY.md §5.1 item 6):
every query's (doc_id, score) list must be rank-identical AND float64
bitwise-equal to the oracle, with tie-break (score desc, doc_id asc)."""

import os

import numpy as np
import pytest

from blacklab_spark import oracle as orc
from blacklab_spark.build import build_index
from blacklab_spark.corpus import Corpus
from blacklab_spark.datagen import fixture_corpus, make_transcripts


def to_spark(spark, pdf):
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="module")
def small(spark, tmp_root):
    """~2k-turn Zipf corpus with a low salt threshold to force the salted path."""
    pdf = make_transcripts(2000, seed=42, vocab_size=500)
    path = f"{tmp_root}/small_idx"
    build_index(
        spark, to_spark(spark, pdf), path,
        salt_df_threshold=50, docs_per_salt=256, block_size=64,
    )
    ordered = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    oi = orc.build_oracle_index(list(zip(range(len(ordered)), ordered["text"])))
    return Corpus(spark, path), oi, ordered


@pytest.fixture(scope="module")
def fixture_idx(spark, tmp_root):
    pdf = fixture_corpus()
    path = f"{tmp_root}/fixture_idx"
    build_index(spark, to_spark(spark, pdf), path, block_size=4)
    oi = orc.build_oracle_index(list(zip(range(len(pdf)), pdf["text"])))
    return Corpus(spark, path), oi


def rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def spark_path(c):
    """c's index opened with the driver path's postings bound at -1: every
    postings kernel runs on Spark."""
    out = Corpus(c.spark, c.paths.root)
    out._DRIVER_MAX_POSTINGS = -1
    return out


# ------------------------------------------------------------ structure ----

def test_stats_match(small):
    c, oi, _ = small
    assert c.n_docs == oi.n_docs
    assert c.meta["total_tokens"] == oi.total_tokens
    assert c.avgdl == oi.avgdl


def test_doc_ids_dense_and_stable(small):
    c, oi, ordered = small
    dm = c.doc_map().orderBy("doc_id").collect()
    assert [r["doc_id"] for r in dm] == list(range(len(ordered)))
    assert [(r["conv_id"], r["turn_idx"]) for r in dm] == list(
        zip(ordered["conv_id"], ordered["turn_idx"])
    )


def test_term_dict_matches_oracle(small):
    c, oi, _ = small
    got = {
        r["term"]: (r["df"], r["cf"])
        for r in c.term_dict.collect()
    }
    expect = {t: (df, cf) for t, df, cf in orc.term_frequencies(oi)}
    assert got == expect
    # term_id is the dense rank of the term string
    td = sorted((r["term_id"], r["term"]) for r in c.term_dict.collect())
    assert [t for _, t in td] == sorted(got)
    assert [i for i, _ in td] == list(range(len(got)))


def test_postings_decode_match_oracle(small):
    """Merged+salted postings == oracle postings, for every term (merge
    correctness ≈ Lucene segment-merge semantics)."""
    from blacklab_spark import codecs
    c, oi, _ = small
    tid2term = {r["term_id"]: r["term"] for r in c.term_dict.collect()}
    by_term = {}
    for r in c.postings.collect():
        d, t, l = codecs.decode_block(r.asDict())
        by_term.setdefault(tid2term[r["term_id"]], []).append(
            (r["block_no"], d.tolist(), t.tolist(), l.tolist())
        )
    for term, blocks in by_term.items():
        blocks.sort()
        docs = [x for b in blocks for x in b[1]]
        tfs = [x for b in blocks for x in b[2]]
        dls = [x for b in blocks for x in b[3]]
        assert docs == sorted(docs), f"{term}: doc order broken across blocks"
        expect = oi.postings[term]
        assert dict(zip(docs, tfs)) == expect, term
        assert all(oi.dl[d] == l for d, l in zip(docs, dls)), term
    assert set(by_term) == set(oi.postings)


def test_stale_n_docs_keeps_every_posting(small):
    """Salt invariant: a hot term's posting with doc_id ≥ n_docs (here a
    stale n_docs of half the corpus) lands in the last salt instead of
    vanishing in the (term, salt) join with the salted term dict."""
    from pyspark.sql import functions as F
    from blacklab_spark.build import (
        _TFPOS_SCHEMA, _term_counts_batches, build_postings_frame,
    )
    c, oi, _ = small
    tfpos = c.docs.select("doc_id", "dl", "tokens").mapInArrow(
        _term_counts_batches, schema=_TFPOS_SCHEMA
    )
    frame = build_postings_frame(
        tfpos, c.term_dict, num_partitions=4, salt_df_threshold=50,
        docs_per_salt=256, block_size=64, n_docs=c.n_docs // 2, avgdl=c.avgdl,
    )
    total = frame.agg(F.sum("num_docs")).collect()[0][0]
    assert total == sum(len(p) for p in oi.postings.values())


# ------------------------------------------------------------ bm25 parity --

FIXTURE_QUERIES = [
    ("fox", 10), ("the", 10), ("zzzabsent", 10),
    ("aap", 1), ("aap", 1000), ("noot", 3),
]


@pytest.mark.parametrize("term,k", FIXTURE_QUERIES)
def test_fixture_term_parity(fixture_idx, term, k):
    c, oi = fixture_idx
    got = rows(c.search_or([term], k=k))
    exp = orc.topk_term(oi, term, k)
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (gd, gs), (ed, es) in zip(got, exp):
        assert gs == es, f"{term}: score mismatch doc {gd}: {gs!r} != {es!r}"


@pytest.mark.parametrize("terms", [["quick", "fox"], ["the", "of", "and"], ["noot", "mier"]])
def test_fixture_or_parity(fixture_idx, terms):
    c, oi = fixture_idx
    got = rows(c.search_or(terms, k=10))
    exp = orc.topk_or(oi, terms, 10)
    assert got == exp  # bitwise float64


@pytest.mark.parametrize("phrase", [
    ["quick", "brown"], ["the", "lazy", "dog"], ["may", "the", "force"],
    ["dog", "quick"], ["the", "question"],
])
def test_fixture_phrase_parity(fixture_idx, phrase):
    c, oi = fixture_idx
    got = rows(c.search_phrase(phrase, k=10))
    exp = orc.topk_phrase(oi, phrase, 10)
    assert got == exp


def test_small_corpus_parity_sampled_terms(small):
    c, oi, _ = small
    terms = sorted(oi.postings, key=lambda t: -len(oi.postings[t]))
    probe = terms[:3] + terms[len(terms) // 2:len(terms) // 2 + 3] + terms[-3:]
    for t in probe:
        got = rows(c.search_or([t], k=20))
        exp = orc.topk_term(oi, t, 20)
        assert got == exp, t


def test_multiterm_wand_exact(small):
    """Multi-term block-max WAND (doc-range partitions + θ pruning) must be
    bitwise-identical to the oracle AND to the exhaustive fold path."""
    from pyspark.sql import functions as F
    c, oi, _ = small
    by_df = sorted(oi.postings, key=lambda t: -len(oi.postings[t]))
    cases = [
        by_df[:3],                      # stop-word OR: flat score landscape
        [by_df[0], by_df[-1]],          # common + rare: strong pruning
        by_df[10:14],                   # mid-frequency mix
    ]
    for q in cases:
        wand = rows(c.search_or(q, k=15))
        assert wand == orc.topk_or(oi, q, 15), q
        fold = rows(
            c.score_or(q).orderBy(F.desc("score"), F.asc("doc_id")).limit(15)
        )
        assert wand == fold, q


def test_small_corpus_or_and_phrase(small):
    c, oi, _ = small
    terms = sorted(oi.postings, key=lambda t: -len(oi.postings[t]))
    got = rows(c.search_or(terms[:4], k=25))
    exp = orc.topk_or(oi, terms[:4], 25)
    assert got == exp
    # find a real bigram from the corpus to probe phrases
    from blacklab_spark.tokenizer import tokenize
    docs = c.docs.select("doc_id", "text").orderBy("doc_id").collect()
    bigram = None
    for r in docs:
        tk = tokenize(r["text"])
        if len(tk) >= 2:
            bigram = tk[:2]
            break
    assert bigram
    got = rows(c.search_phrase(bigram, k=50))
    exp = orc.topk_phrase(oi, bigram, 50)
    assert got == exp


def test_spans_term_postings_backed(small):
    """Corpus.spans_term decodes spans from the positional postings: the
    frame must read only postings files, never the docs table. On the driver
    path the same spans come back as a LocalRelation."""
    from urllib.parse import urlparse

    c, oi, _ = small
    sp = spark_path(c).spans_term("the")
    files = [urlparse(f).path for f in sp.inputFiles()]
    postings = os.path.abspath(c.paths.postings) + os.sep
    docs = os.path.abspath(c.paths.docs) + os.sep
    assert files and all(f.startswith(postings) for f in files), files
    assert not any(f.startswith(docs) for f in files), files
    got = sorted((r["doc_id"], r["start"], r["end"]) for r in sp.collect())
    exp = sorted(
        (d, p, p + 1) for d, ps in oi.positions["the"].items() for p in ps
    )
    assert got == exp
    local = c.spans_term("the")
    assert sorted((r["doc_id"], r["start"], r["end"]) for r in local.collect()) == exp


def test_hits_window_take_ordered_plan(small):
    """Pagination compiles to TakeOrderedAndProject — never a global Window
    (single-partition scale-killer, VERDICT r1 'What's wrong #4')."""
    from pyspark.sql import functions as F
    from blacklab_spark.operators import grouping
    c, oi, _ = small
    h = c.spans_term("the").select("doc_id", F.col("start").alias("pos"))
    out = grouping.hits_window(h, [F.asc("doc_id"), F.asc("pos")], 10, 10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    got = [(r["doc_id"], r["pos"]) for r in out.collect()]
    exp = sorted((d, p) for d, ps in oi.positions["the"].items() for p in ps)
    assert got == exp[10:20]


def test_range_scorer_invariant_to_partitioning(small):
    """_range_scores results must not depend on the range count (R is derived
    from spark.sql.shuffle.partitions): rerun the same queries at a very
    different setting and demand identical rows."""
    c, oi, _ = small
    spark = c.spark
    q_or, q_and = ["the", "of", "w0003"], ["the", "w0005"]
    base_or = rows(c.search_or(q_or, k=12))
    base_and = rows(c.search_and(q_and, k=12))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in ("3", "97"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            for corpus in (c, spark_path(c)):
                assert rows(corpus.search_or(q_or, k=12)) == base_or
                assert rows(corpus.search_and(q_and, k=12)) == base_and
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert base_or == orc.topk_or(oi, q_or, 12)
    assert base_and == orc.topk_and(oi, q_and, 12)


def test_preload_identical_results(small):
    """Serving mode must be a pure performance knob — bitwise-same results."""
    c, oi, _ = small
    q = ["the", "w0002"]
    before = rows(c.search_or(q, k=10))
    c.preload()
    assert rows(c.search_or(q, k=10)) == before == orc.topk_or(oi, q, 10)
    assert c.find_cql('"the" []{0,1} "a"').count() > 0  # postings path live


def test_postings_scan_filter_pushdown(small):
    """The term_id predicate must reach the parquet scan (PushedFilters) so a
    query touches only the queried terms' row groups."""
    c, _, _ = small
    tinfo = c.lookup_terms(["the", "w0002"])
    blocks = c.postings.filter(
        __import__("pyspark.sql.functions", fromlist=["col"]).col("term_id").isin(
            [int(t) for t in tinfo["term_id"]]
        )
    )
    plan = blocks._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(term_id" in plan


def test_regex_expansion(small):
    c, oi, _ = small
    expanded = c.expand_pattern("^w00.*")
    expect = sorted(t for t in oi.postings if t.startswith("w00"))
    assert expanded == expect


def test_and_query_parity(fixture_idx):
    c, oi = fixture_idx
    got = rows(c.search_and(["quick", "dog"], k=10))
    assert got == orc.topk_and(oi, ["quick", "dog"], 10)
    assert [d for d, _ in got] == [0, 5]
    # 'the' appears in 4 docs, 'question' only in doc 3 → AND = doc 3 only
    got = rows(c.search_and(["the", "question"], k=10))
    assert got == orc.topk_and(oi, ["the", "question"], 10)
    assert [d for d, _ in got] == [3]
    assert rows(c.search_and(["quick", "zzzabsent"], k=10)) == []
    # parser: +term syntax switches to conjunctive mode
    got = rows(c.search("+the +question", k=10))
    assert got == orc.topk_and(oi, ["the", "question"], 10)


def test_and_with_expansion_is_one_clause(fixture_idx):
    """+qu* +dog: the wildcard expansion is ONE MUST clause (OR inside),
    not sibling MUSTs — Lucene BooleanQuery semantics (ADVICE r1)."""
    c, oi = fixture_idx
    qu_terms = sorted(t for t in oi.postings if t.startswith("qu"))
    assert len(qu_terms) >= 2  # fixture has quick + question at least
    got = rows(c.search("+qu* +dog", k=10))
    exp = orc.topk_and_groups(oi, [qu_terms, ["dog"]], 10)
    assert got == exp
    assert got  # must NOT be empty (round-1 flat-MUST bug made it empty)
    # flat-MUST over the same terms is different (requires EVERY expansion)
    flat = orc.topk_and(oi, qu_terms + ["dog"], 10)
    assert got != flat


def test_query_string_api(fixture_idx):
    c, oi = fixture_idx
    got = rows(c.search('"quick brown"', k=5))
    assert got == orc.topk_phrase(oi, ["quick", "brown"], 5)
    got = rows(c.search("quick fox", k=5))
    assert got == orc.topk_or(oi, ["quick", "fox"], 5)
    got = rows(c.search("qu*", k=5))
    exp_terms = sorted(t for t in oi.postings if t.startswith("qu"))
    assert got == orc.topk_or(oi, exp_terms, 5)
