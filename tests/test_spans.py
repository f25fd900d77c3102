"""Span algebra semantics tests (mirror of the reference's TestSpans* classes,
SURVEY.md §5.1 item 1: TestSpansSequence, TestSpansAnd, TestSpansNot,
TestSpansRepetition, TestSpansPositionFilter, TestSpansExpansion...)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from blacklab_spark.operators import spans as S

TEXTS = [
    "a b a b a c",        # doc 0
    "b b b a",            # doc 1
    "c c a a a c",        # doc 2
]


@pytest.fixture(scope="module")
def docs(spark):
    pdf = pd.DataFrame({"doc_id": range(len(TEXTS)), "text": TEXTS})
    df = spark.createDataFrame(pdf)
    df = df.withColumn(
        "tokens", F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
    ).withColumn("dl", F.size("tokens"))
    return df


def rows(df):
    return sorted((r["doc_id"], r["start"], r["end"]) for r in df.collect())


def test_span_term(docs):
    assert rows(S.span_term(docs, "a")) == [
        (0, 0, 1), (0, 2, 3), (0, 4, 5),
        (1, 3, 4),
        (2, 2, 3), (2, 3, 4), (2, 4, 5),
    ]


def test_sequence_adjacent_and_gap(docs):
    a = S.span_term(docs, "a")
    b = S.span_term(docs, "b")
    # "a b": docs 0 at (0,2) and (2,4)
    assert rows(S.sequence(a, b)) == [(0, 0, 2), (0, 2, 4)]
    # "b []{0,1} a": b then a with gap 0-1
    got = rows(S.sequence(b, a, 0, 1))
    assert got == [(0, 1, 3), (0, 3, 5), (1, 1, 4), (1, 2, 4)]


def test_span_and_or(docs):
    a = S.span_term(docs, "a")
    also_a = S.span_term(docs, "a")
    assert rows(S.span_and(a, also_a)) == rows(a)
    b = S.span_term(docs, "b")
    assert rows(S.span_and(a, b)) == []
    assert len(rows(S.span_or(a, b))) == len(rows(a)) + len(rows(b))


def test_span_not(docs):
    a = S.span_term(docs, "a")
    nots = rows(S.span_not_tokens(docs, a))
    assert (0, 1, 2) in nots and (0, 0, 1) not in nots
    assert len(nots) == 16 - 7  # 16 tokens, 7 'a'


def test_within_containing(docs):
    a = S.span_term(docs, "a")
    b = S.span_term(docs, "b")
    ab = S.sequence(a, b)           # (0,0,2), (0,2,4)
    assert rows(S.within(a, ab)) == [(0, 0, 1), (0, 2, 3)]
    assert rows(S.containing(ab, b)) == [(0, 0, 2), (0, 2, 4)]
    assert rows(S.within(a, ab, invert=True)) == [
        (0, 4, 5), (1, 3, 4), (2, 2, 3), (2, 3, 4), (2, 4, 5)
    ]


def test_expand_edge_length(docs):
    a = S.span_term(docs, "a")
    ex = rows(S.expand(a, docs, left=1, right=1))
    assert (0, 0, 2) in ex        # clamped at doc start (a at 0)
    assert (2, 3, 6) in ex        # clamped at doc end (a at 4, dl=6)
    e = rows(S.edge(S.sequence(a, S.span_term(docs, "b"))))
    assert e == [(0, 0, 0), (0, 2, 2)]
    fl = rows(S.filter_by_length(S.sequence(a, S.span_term(docs, "b"), 0, 1), 2, 2))
    assert all(en - st == 2 for _, st, en in fl)


def test_repetition(docs):
    a = S.span_term(docs, "a")
    # a{2,3}: doc 2 has a a a at 2..5
    got = rows(S.repetition(a, 2, 3))
    assert got == [(2, 2, 4), (2, 2, 5), (2, 3, 5)]
    # a{1,1} == a
    assert rows(S.repetition(a, 1, 1)) == rows(a)


def test_fuzzy_terms(spark, docs):
    td = (
        docs.select(F.explode("tokens").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cf"), F.countDistinct("term").alias("df"))
    )
    got = sorted(r["term"] for r in S.fuzzy_terms(td, "a", 1).collect())
    assert got == ["a", "b", "c"]
    got0 = sorted(r["term"] for r in S.fuzzy_terms(td, "a", 0).collect())
    assert got0 == ["a"]


def test_positions_chain_matches_join_path(spark, tmp_root):
    # the r4 doc-range chain kernel must equal the join formulation
    # exactly — spans, phrase freqs, and dl side-channel
    import pandas as pd

    from blacklab_spark.build import build_index
    from blacklab_spark.corpus import Corpus
    from blacklab_spark.datagen import fixture_corpus

    path = f"{tmp_root}/pchain_idx"
    build_index(spark, spark.createDataFrame(fixture_corpus()), path, block_size=3)
    c = Corpus(spark, path)
    on_spark = Corpus(spark, path)
    on_spark._DRIVER_MAX_POSTINGS = -1  # the kernel's Spark path

    cases = [
        [(["the"], 0), (["quick"], 1)],
        [(["the"], 0), (["fox"], 2)],              # fixed gap 1
        [(["the"], 0), (["quick", "fox"], 1)],     # multi-term clause
        [(["zzzmissing"], 0), (["the"], 1)],       # vocab miss -> empty
        [(["the"], 0), (["the"], 1), (["the"], 2)],
    ]
    for clauses in cases:
        kernel = {
            (r["doc_id"], tuple(r["positions"]))
            for r in c.positions_chain(clauses).collect()
        }
        assert kernel == {
            (r["doc_id"], tuple(r["positions"]))
            for r in on_spark.positions_chain(clauses).collect()
        }, clauses
        # join path: intersect shifted per-doc arrays
        acc = None
        from blacklab_spark.operators import spans as S
        for terms, off in clauses:
            p = c.positions_of_terms(terms)
            acc = p if acc is None else S.seq_positions_extend(acc, p, off)
        join = {
            (r["doc_id"], tuple(r["positions"]))
            for r in (acc.collect() if acc is not None else [])
        }
        assert kernel == join, clauses

    # dl side-channel matches the docs table
    chain = c.positions_chain([(["the"], 0), (["quick"], 1)], with_dl=True)
    dls = {r["doc_id"]: r["dl"] for r in c.doc_lengths().collect()}
    for r in chain.collect():
        assert r["dl"] == dls[r["doc_id"]]


def test_spans_chain_vargap_matches_join(spark, tmp_root):
    # the variable-gap kernel tail must equal seq_positions_pair exactly
    from blacklab_spark.build import build_index
    from blacklab_spark.corpus import Corpus
    from blacklab_spark.datagen import fixture_corpus
    from blacklab_spark.operators import spans as S

    path = f"{tmp_root}/vgap_idx"
    build_index(spark, spark.createDataFrame(fixture_corpus()), path, block_size=3)
    c = Corpus(spark, path)
    on_spark = Corpus(spark, path)
    on_spark._DRIVER_MAX_POSTINGS = -1  # the kernel's Spark path

    cases = [
        ([(["the"], 0)], 1, ["fox"], 0, 2),
        ([(["the"], 0), (["quick"], 1)], 2, ["fox"], 0, 1),
        ([(["the"], 0)], 1, ["quick", "fox"], 1, 3),
        ([(["the"], 0)], 1, ["zzzmissing"], 0, 2),
    ]
    for clauses, w, tail, gmin, gmax in cases:
        kern = {
            (r["doc_id"], r["start"], r["end"])
            for r in c.spans_chain_vargap(clauses, w, tail, gmin, gmax).collect()
        }
        assert kern == {
            (r["doc_id"], r["start"], r["end"])
            for r in on_spark.spans_chain_vargap(clauses, w, tail, gmin, gmax).collect()
        }, (clauses, tail, gmin, gmax)
        acc = None
        for terms, off in clauses:
            p = c.positions_of_terms(terms)
            acc = p if acc is None else S.seq_positions_extend(acc, p, off)
        join = {
            (r["doc_id"], r["start"], r["end"])
            for r in S.seq_positions_pair(
                acc, w, c.positions_of_terms(tail), gmin, gmax
            ).collect()
        }
        assert kern == join, (clauses, tail, gmin, gmax)
