"""The generator and the request streams depend on the seed alone."""

import json
from pathlib import Path

import numpy as np
import pytest

from perfbench import gen, workloads

CHECKSUMS = json.loads((Path(gen.__file__).parent / "checksums.json").read_text())


def test_corpus_is_deterministic_per_seed():
    a = gen.make_corpus(7, 2_000, 300, 2)
    b = gen.make_corpus(7, 2_000, 300, 2)
    c = gen.make_corpus(8, 2_000, 300, 2)
    assert gen.corpus_checksum(a) == gen.corpus_checksum(b)
    assert gen.corpus_checksum(a) != gen.corpus_checksum(c)


def test_corpus_shape():
    corpus = gen.make_corpus(3, 20_000, 1_000, 4)
    lengths = corpus.base["text"].str.split().str.len()
    assert 0.002 < (lengths == 0).mean() < 0.01  # 0.5% empty turns
    assert 12.0 < lengths[lengths > 0].mean() < 14.0  # Poisson(12) + 1
    assert 0.02 < corpus.base["text"][lengths > 0].duplicated().mean() < 0.06  # 3% repeats
    top = corpus.base["text"].str.split().explode().value_counts()
    assert list(top.index[:3]) == ["the", "a", "of"]  # Zipf over stopwords first
    delta_words = set(corpus.delta["text"].str.split().explode().dropna())
    assert set(gen.fresh_terms(4)) <= delta_words
    assert not set(gen.fresh_terms(4)) & set(top.index)
    ids = corpus.everything()[["conv_id", "turn_idx"]].apply(tuple, axis=1).tolist()
    assert ids == sorted(ids)  # doc ids follow generation order


@pytest.mark.parametrize("workload", ["query_selective", "query_heavy"])
def test_inputs_are_deterministic_per_seed(workload):
    a, b = workloads.prepare(workload, 2), workloads.prepare(workload, 2)
    assert a.checksum == b.checksum
    assert [r.key for r in a.warm + a.stream] == [r.key for r in b.warm + b.stream]
    other = workloads.prepare(workload, 3)
    assert [r.key for r in a.stream] != [r.key for r in other.stream]
    assert sorted(r.kind for r in a.warm) == sorted(workloads.SHAPES[workload].kinds)


def test_recorded_checksums_match():
    for workload, table in CHECKSUMS.items():
        for seed in ("0", "1"):
            corpus = workloads.corpus_for(workload, int(seed))
            assert gen.corpus_checksum(corpus) == table[seed], (workload, seed)


def test_checksum_check_covers_unrecorded_seeds():
    from perfbench import run

    table = CHECKSUMS["query_selective"]
    run.check_checksum("query_selective", 0, table["0"])
    with pytest.raises(RuntimeError):
        run.check_checksum("query_selective", 0, table["1"])
    # an unrecorded seed is vouched for by the generator on a recorded one
    run.check_checksum("query_selective", 10_000 + len(table), "not recorded")


def test_selective_requests_are_distinct_and_rare():
    inp = workloads.prepare("query_selective", 4)
    keys = [r.key for r in inp.stream]
    assert len(keys) == len(set(keys))
    assert not any(r.kind.startswith("heavy") for r in inp.stream)


def test_heavy_stream_repeats_one_in_five():
    stream = gen.heavy_stream(5, 50)
    seen, repeats = set(), 0
    for r in stream:
        if r.key in seen:
            repeats += 1
            assert r.kind != "heavy_colloc"  # the search cache does not serve it
        seen.add(r.key)
    assert repeats == 10
    assert np.all([r.kind in gen.HEAVY_KINDS for r in stream])
    assert len(gen.heavy_stream(5, 90)) == 90
    with pytest.raises(ValueError):
        gen.heavy_stream(5, 91)


def test_heavy_round_covers_every_kind():
    inp = workloads.prepare("query_heavy", 6)
    size = workloads.SHAPES["query_heavy"].round
    for start in range(0, len(inp.stream), size):
        rnd = inp.stream[start:start + size]
        assert [r.kind for r in rnd[:4] + rnd[5:9]] == list(gen.HEAVY_KINDS)
        for i in (4, 9):
            assert rnd[i].key in {r.key for r in inp.stream[:start + i]}
