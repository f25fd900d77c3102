"""Incremental add-to-index + compaction (SURVEY.md §2.6: incremental index
add maps to appending per-partition segments + a merge compaction)."""

import json
import os

import pytest

from blacklab_spark import oracle as orc
from blacklab_spark.build import build_index
from blacklab_spark.corpus import Corpus
from blacklab_spark.datagen import make_transcripts
from blacklab_spark.incremental import add_to_index, compact_index


@pytest.fixture(scope="module")
def setup(spark, tmp_root):
    base = make_transcripts(1200, seed=21, vocab_size=250)
    # delta with DIFFERENT conv ids (renamed) so doc identity stays unique
    delta = make_transcripts(400, seed=22, vocab_size=250)
    delta["conv_id"] = delta["conv_id"].str.replace("conv-", "delta-")
    path = f"{tmp_root}/incr_idx"
    build_index(spark, spark.createDataFrame(base), path,
                salt_df_threshold=60, docs_per_salt=128)
    add_to_index(spark, spark.createDataFrame(delta), path)

    # oracle over the FULL corpus in engine docID order: base first (its
    # conv-* order), then delta (delta-* order appended at N)
    bo = base.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    do = delta.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    texts = list(bo["text"]) + list(do["text"])
    oi = orc.build_oracle_index(list(zip(range(len(texts)), texts)))
    return path, oi


def rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def test_meta_updated_and_stale(spark, setup):
    path, oi = setup
    meta = json.load(open(f"{path}/_meta.json"))
    assert meta["n_docs"] == oi.n_docs
    assert meta["total_tokens"] == oi.total_tokens
    assert meta["avgdl"] == oi.avgdl
    assert meta["bounds_stale"] is True
    assert meta["n_segments"] == 2


def test_post_append_exact_scores(spark, setup):
    path, oi = setup
    c = Corpus(spark, path)
    for q in [["the"], ["w0001", "w0010"], ["w0200"]]:
        assert rows(c.search_or(q, k=30)) == orc.topk_or(oi, q, 30), q
    bigram = ["the", "a"]
    assert rows(c.search_phrase(bigram, k=30)) == orc.topk_phrase(oi, bigram, 30)


def test_term_dict_merged(spark, setup):
    path, oi = setup
    c = Corpus(spark, path)
    got = {r["term"]: (r["df"], r["cf"]) for r in c.term_dict.collect()}
    expect = {t: (df, cf) for t, df, cf in orc.term_frequencies(oi)}
    assert got == expect
    ids = sorted(r["term_id"] for r in c.term_dict.collect())
    assert ids == list(range(len(ids)))  # still dense after merge


def test_compact_restores_bounds_and_parity(spark, setup):
    path, oi = setup
    compact_index(spark, path)
    meta = json.load(open(f"{path}/_meta.json"))
    assert meta["bounds_stale"] is False and meta["n_segments"] == 1
    assert meta["n_docs"] == oi.n_docs and meta["avgdl"] == oi.avgdl
    c = Corpus(spark, path)
    for q in [["the"], ["w0001", "w0010"]]:
        assert rows(c.search_or(q, k=30)) == orc.topk_or(oi, q, 30), q
    # WAND path (k_hint) active again and still exact
    assert rows(c.search_or(["the"], k=5)) == orc.topk_term(oi, "the", 5)


def test_post_append_chain_kernel_matches_join(spark, setup):
    # the r4 positions-chain kernel must handle MULTI-SEGMENT indexes (a doc
    # lives in exactly one segment; the kernel is block_no-agnostic) — pin
    # kernel == join on the appended index for fixed and variable gaps
    import os as _os

    path, oi = setup
    c = Corpus(spark, path)
    on_spark = Corpus(spark, path)
    on_spark._DRIVER_MAX_POSTINGS = -1  # the kernel's Spark path
    queries = ['"the" "a"', '"the" []{0,2} "a"', '"w0001" [] "the"']
    for q in queries:
        kern = {
            (r["doc_id"], r["start"], r["end"])
            for r in c.find_cql(q).select("doc_id", "start", "end").collect()
        }
        assert kern == {
            (r["doc_id"], r["start"], r["end"])
            for r in on_spark.find_cql(q).select("doc_id", "start", "end").collect()
        }, q
        _os.environ["BLACKLAB_SEQ_KERNEL"] = "join"
        try:
            join = {
                (r["doc_id"], r["start"], r["end"])
                for r in c.find_cql(q).select("doc_id", "start", "end").collect()
            }
        finally:
            _os.environ.pop("BLACKLAB_SEQ_KERNEL", None)
        assert kern == join, q
        assert len(kern) > 0, q


def test_fold_version_gate(spark, tmp_root):
    # ADVICE r5: an index whose baked-in fold convention differs from the
    # engine's current one must not be silently queried (insensitive layers
    # would miss re-folded terms) and must never be appended to (one term
    # dict would mix two conventions)
    import warnings

    from blacklab_spark.tokenizer import FOLD_VERSION

    path = f"{tmp_root}/fold_gate_idx"
    df = spark.createDataFrame(make_transcripts(40, seed=7, vocab_size=50))
    build_index(spark, df, path)
    meta = json.load(open(f"{path}/_meta.json"))
    assert meta["fold_version"] == FOLD_VERSION  # stamped at build

    # current stamp: clean open, no warning
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        Corpus(spark, path)

    # explicit mismatch: open warns, append refuses
    meta["fold_version"] = FOLD_VERSION - 1
    json.dump(meta, open(f"{path}/_meta.json", "w"))
    with pytest.warns(UserWarning, match="fold_version"):
        Corpus(spark, path)
    delta = make_transcripts(10, seed=8, vocab_size=50)
    delta["conv_id"] = "x-" + delta["conv_id"]
    with pytest.raises(RuntimeError, match="fold_version"):
        add_to_index(spark, spark.createDataFrame(delta), path)

    # unstamped (pre-r6): open and append both warn but proceed
    del meta["fold_version"]
    json.dump(meta, open(f"{path}/_meta.json", "w"))
    with pytest.warns(UserWarning, match="fold_version"):
        Corpus(spark, path)


def test_append_preserves_store_offsets(spark, tmp_root):
    # r6 review fix: add_to_index must build the delta with the SAME
    # store_offsets setting as the base index (stamped in meta), or the
    # merged docs dir mixes schemas and kwic_text breaks on appended docs
    import pandas as pd

    from blacklab_spark.operators.grouping import kwic_text

    base = pd.DataFrame(
        [("a", 0, "the quick fox"), ("a", 1, "a lazy dog")],
        columns=["conv_id", "turn_idx", "text"],
    )
    delta = pd.DataFrame(
        [("b", 0, "another FOX, appended!")],
        columns=["conv_id", "turn_idx", "text"],
    )
    path = f"{tmp_root}/append_offsets_idx"
    build_index(spark, spark.createDataFrame(base), path, block_size=4,
                store_offsets=True)
    meta = json.load(open(f"{path}/_meta.json"))
    assert meta["store_offsets"] is True
    add_to_index(spark, spark.createDataFrame(delta), path)
    c = Corpus(spark, path)
    # every doc (old and appended) carries offsets
    assert c.docs.filter("tok_starts IS NULL").count() == 0
    out = {r["doc_id"]: r for r in
           kwic_text(c.find_cql('"fox"'), c.docs, context=1).collect()}
    assert out[2]["match"] == "FOX"          # the appended doc, raw case
    assert out[2]["right"] == ", appended"   # raw punctuation preserved


def test_resume_refuses_store_offsets_mismatch(spark, tmp_root):
    # r6 review fix: resume=True over a docs stage built WITHOUT offsets
    # must fail fast instead of yielding an index that claims offsets
    import pandas as pd
    import pytest as _pytest

    pdf = pd.DataFrame(
        [("a", 0, "plain text here")],
        columns=["conv_id", "turn_idx", "text"],
    )
    path = f"{tmp_root}/resume_offsets_idx"
    build_index(spark, spark.createDataFrame(pdf), path, block_size=4)
    with _pytest.raises(ValueError, match="resume"):
        build_index(spark, spark.createDataFrame(pdf), path, block_size=4,
                    store_offsets=True, resume=True)


def test_recover_sweeps_orphaned_tmp_payloads(spark, tmp_root):
    # r6 review fix: a writer killed between the tmp fsync and os.link
    # leaves an inert tmp payload; recover_pending sweeps dead-owner tmps
    # and leaves live-owner ones alone
    import pandas as pd

    from blacklab_spark.incremental import recover_pending

    pdf = pd.DataFrame(
        [("a", 0, "some text")], columns=["conv_id", "turn_idx", "text"]
    )
    path = f"{tmp_root}/tmp_sweep_idx"
    build_index(spark, spark.createDataFrame(pdf), path, block_size=4)
    marker = os.path.join(path, "_pending_append.json")
    dead = os.path.join(path, "_pending_append.json.999999.140.tmp")
    live = os.path.join(path, f"_pending_append.json.{os.getpid()}.141.tmp")
    for p in (dead, live):
        with open(p, "w") as f:
            f.write("{}")
    recover_pending(path)
    assert not os.path.exists(dead)   # dead pid: swept
    assert os.path.exists(live)       # live (our) pid: untouched
    os.unlink(live)
