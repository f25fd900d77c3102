"""Block kernels without Spark: codecs.decode_blocks against the arrays given
to encode_blocks, and decode_scores' block-max WAND against the exact top-k
of a full decode."""

import numpy as np
import pandas as pd
import pytest

from blacklab_spark import scoring
from blacklab_spark.codecs import decode_blocks, encode_blocks
from blacklab_spark.corpus import decode_scores

AVGDL, IDF = 40.0, 1.3


def term_blocks(rng, n, block_size, scores="spread"):
    """One term's doc-sorted postings and their blocks. `scores`: "spread"
    (random tf, dl), "few" (two tfs x two dls: four scores, ties in and
    across blocks) or "tied" (one (tf, dl): every score ties)."""
    doc_ids = np.sort(rng.choice(50_000, size=n, replace=False)).astype(np.int64)
    if scores == "spread":
        tfs = rng.integers(1, 6, n)
        dls = tfs + rng.integers(0, 60, n)
    else:
        tfs = rng.choice([1, 5] if scores == "few" else [3], n)
        dls = rng.choice([10, 50] if scores == "few" else [30], n)
    blocks = encode_blocks(doc_ids, tfs, dls, None, AVGDL, IDF, block_size)
    return doc_ids, tfs, dls, blocks


def test_decode_blocks_several_terms():
    rng = np.random.default_rng(3)
    want, blocks = [], []
    # one-block, exactly-full and multi-block runs; each term's run starts
    # over at a lower first_doc_id than the previous run's last
    for n, bs in [(1, 8), (8, 8), (9, 8), (300, 16), (57, 128)]:
        d, t, l, b = term_blocks(rng, n, bs)
        want.append((d, t, l))
        blocks += b
    frame = pd.DataFrame(blocks)
    assert (np.diff(frame["first_doc_id"]) < 0).any()
    for cols in (frame, frame.to_dict("list")):
        d, t, l, counts = decode_blocks(cols)
        for got, exp in zip((d, t, l), zip(*want)):
            assert got.dtype == np.int64
            assert np.array_equal(got, np.concatenate(exp))
        assert np.array_equal(counts, frame["num_docs"])


def test_decode_blocks_zero_blocks():
    empty = {"first_doc_id": [], "doc_gaps": [], "tfs": [], "dls": []}
    for arr in decode_blocks(empty):
        assert arr.dtype == np.int64 and arr.size == 0


def exact_topk(blocks, k):
    d, t, l, _ = decode_blocks(pd.DataFrame(blocks))
    s = scoring.bm25(t, l, AVGDL, IDF)
    best = np.lexsort((d, -s))[:k]
    return list(zip(d[best].tolist(), s[best].tolist()))


def wand_topk(batches, k):
    out = pd.concat([pd.DataFrame({"doc_id": [], "score": []}),
                     *decode_scores(batches, IDF, AVGDL, k)])
    out = out.sort_values(["score", "doc_id"], ascending=[False, True])
    return list(zip(out["doc_id"].astype("int64").tolist(), out["score"].tolist()))


@pytest.mark.parametrize("scores", ["spread", "few", "tied"])
@pytest.mark.parametrize("k", [1, 5, 7, 8, 50, 1000])
@pytest.mark.parametrize("n_batches", [1, 3])
def test_decode_scores_topk_is_exact(scores, k, n_batches):
    """Ties across block boundaries and across the k-th place (equal tf and
    dl), k above the posting count, and one term's blocks split over several
    batches in shuffled order."""
    rng = np.random.default_rng(11)
    _, _, _, blocks = term_blocks(rng, 203, 8, scores)
    order = rng.permutation(len(blocks))
    batches = [pd.DataFrame([blocks[i] for i in part])
               for part in np.array_split(order, n_batches)]
    got = wand_topk(batches, k)
    assert got == exact_topk(blocks, k)
    assert len(got) == min(k, 203)


def test_decode_scores_without_k_yields_every_posting():
    rng = np.random.default_rng(5)
    d, t, l, blocks = term_blocks(rng, 90, 16)
    batches = [pd.DataFrame(blocks[:3]), pd.DataFrame(blocks[:0]), pd.DataFrame(blocks[3:])]
    out = pd.concat(list(decode_scores(batches, IDF, AVGDL, None)))
    assert np.array_equal(out["doc_id"], d)
    assert np.array_equal(out["score"], scoring.bm25(t, l, AVGDL, IDF))


def test_decode_scores_k0_is_empty():
    rng = np.random.default_rng(5)
    _, _, _, blocks = term_blocks(rng, 90, 16)
    assert list(decode_scores([pd.DataFrame(blocks)], IDF, AVGDL, 0)) == []
