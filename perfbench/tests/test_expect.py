"""Span counts, collocations and KWIC rows the benchmark counts from the
generated tokens."""

import pytest

from blacklab_spark import oracle
from perfbench import gen
from perfbench.expect import Expect, TokenIndex


@pytest.fixture(scope="module")
def both():
    corpus = gen.make_corpus(11, 1_500, 200, 2)
    ix = TokenIndex(list(corpus.everything()["text"]))
    return Expect(ix, len(corpus.base)), Expect(ix, len(ix.tokens))


@pytest.mark.parametrize("terms", [["the", "a"], ["of", "the", "w0001"], ["w0001", "w0001"]])
def test_sequences_match_oracle_phrase_freqs(both, terms):
    e, _ = both
    freqs = oracle.phrase_freqs(e.oracle, terms)
    assert len(e.sequence_starts(terms)) == sum(freqs.values())
    assert sorted({d for d, _, _ in e.sequence_spans(terms)}) == sorted(freqs)


def test_fresh_terms_only_after_append(both):
    e, e_all = both
    term = gen.fresh_terms(1)[0]
    assert e.oracle.df(term) == 0
    assert e_all.oracle.df(term) > 0


def test_gap_and_collocations_count_from_tokens(both):
    e, _ = both
    tokens = e.ix.tokens[:e.n_docs]
    want = sum(1 for t in tokens for i, w in enumerate(t) if w == "the"
               for g in range(1, 4) if i + g < len(t) and t[i + g] == "a")
    assert e.gap_count("the", "a", 2) == want
    colloc = e.collocations("w0005", 2)
    want = {}
    for t in tokens:
        for i, w in enumerate(t):
            if w == "w0005":
                for j in range(max(0, i - 2), min(len(t), i + 3)):
                    if j != i:
                        want[t[j]] = want.get(t[j], 0) + 1
    assert colloc == want


def test_kwic_rows(both):
    e, _ = both
    spans = e.sequence_spans(["the", "a"])[:5]
    for (d, s, end, left, hit, right), span in zip(e.kwic(spans, 2), spans):
        toks = e.ix.tokens[d]
        assert (d, s, end) == span
        assert hit == "the a" == " ".join(toks[s:end])
        assert left.split() == toks[max(0, s - 2):s]
        assert right.split() == toks[end:end + 2]
