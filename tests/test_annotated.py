"""Multi-annotation layers (word/lemma/pos): per-layer indexes share the
docID space and token positions, so [lemma="x" & pos="y"] and lemma-level
constraints work as span intersections across layers — the reference's
annotated-field semantics (TestSearches exercises lemma/pos heavily)."""

import pytest

from blacklab_spark.annotated import AnnotatedCorpus, build_annotated_index
from blacklab_spark.sources.readers import read_conllu_annotated

CONLLU = """# doc 1
1\tThe\tthe\tDET
2\tdogs\tdog\tNOUN
3\tbark\tbark\tVERB

1\tA\ta\tDET
2\tdog\tdog\tNOUN
3\tbarked\tbark\tVERB
4\tloudly\tloudly\tADV

1\tdogs\tdog\tNOUN
2\tbark\tbark\tNOUN
"""


@pytest.fixture(scope="module")
def acorp(spark, tmp_root, tmp_path_factory):
    d = tmp_path_factory.mktemp("conllu")
    (d / "x.conllu").write_text(CONLLU)
    frame = read_conllu_annotated(spark, str(d / "x.conllu"))
    root = f"{tmp_root}/annot_idx"
    build_annotated_index(
        spark, frame, root,
        {"word": "word", "lemma": "lemma", "pos": "pos"},
        block_size=4,
    )
    return AnnotatedCorpus(spark, root)


def spans(df):
    return sorted((r["doc_id"], r["start"], r["end"]) for r in df.collect())


def test_layers_aligned(acorp):
    # all layers share docIDs and doc lengths (position alignment)
    dls = {
        name: {r["doc_id"]: r["dl"] for r in layer.doc_lengths().collect()}
        for name, layer in acorp.layers.items()
    }
    assert dls["word"] == dls["lemma"] == dls["pos"]
    assert dls["word"] == {0: 3, 1: 4, 2: 2}


def test_lemma_query(acorp):
    # lemma dog: dogs(0,1), dog(1,1), dogs(2,0)
    assert spans(acorp.find_cql('[lemma="dog"]')) == [
        (0, 1, 2), (1, 1, 2), (2, 0, 1)
    ]


def test_word_and_pos_intersection(acorp):
    # word 'bark' occurs at (0,2) VERB and (2,1) NOUN
    assert spans(acorp.find_cql('[word="bark" & pos="noun"]')) == [(2, 1, 2)]
    assert spans(acorp.find_cql('[word="bark" & pos="verb"]')) == [(0, 2, 3)]


def test_cross_layer_sequence(acorp):
    # DET followed by lemma dog
    assert spans(acorp.find_cql('[pos="det"] [lemma="dog"]')) == [
        (0, 0, 2), (1, 0, 2)
    ]


def test_lemma_constraint(acorp):
    # A:[] B:[] :: A.lemma = B.lemma — adjacent same-lemma pair: doc2
    # has none (dog, bark); doc0 the/dogs/bark none... build one: use pos
    got = spans(acorp.find_cql('A:[] B:[] :: A.pos = B.pos'))
    # adjacent same-POS pairs: doc2 (dogs NOUN, bark NOUN) only
    assert got == [(2, 0, 2)]


def test_annotated_append(spark, tmp_root, tmp_path_factory):
    from blacklab_spark.annotated import add_to_annotated_index
    d = tmp_path_factory.mktemp("conllu2")
    (d / "base.conllu").write_text(CONLLU)
    delta = "1\tcats\tcat\tNOUN\n2\tbark\tbark\tVERB\n"
    (d / "delta.conllu").write_text(delta)
    root = f"{tmp_root}/annot_incr_idx"
    ann = {"word": "word", "lemma": "lemma", "pos": "pos"}
    build_annotated_index(
        spark, read_conllu_annotated(spark, str(d / "base.conllu")), root, ann,
        block_size=4,
    )
    add_to_annotated_index(
        spark, read_conllu_annotated(spark, str(d / "delta.conllu")), root, ann
    )
    ac = AnnotatedCorpus(spark, root)
    dls = {
        name: {r["doc_id"]: r["dl"] for r in layer.doc_lengths().collect()}
        for name, layer in ac.layers.items()
    }
    assert dls["word"] == dls["lemma"] == dls["pos"]  # still aligned
    assert len(dls["word"]) == 4
    # new doc visible across layers: cats/cat/NOUN at (3,0)
    assert spans(ac.find_cql('[lemma="cat"]')) == [(3, 0, 1)]
    assert spans(ac.find_cql('[word="bark" & pos="verb"]')) == [(0, 2, 3), (3, 1, 2)]
    # r5: cross-layer chains through the kernel on the MULTI-SEGMENT
    # (appended) index must match the join baseline — the appended segment's
    # block_no offsets and docID shifts ride the same (layer, term_id) keying
    import os
    chain_qs = ['[pos="noun"] [pos="verb"]', '[lemma="cat"] []{0,1} [pos="verb"]']
    kernel = {q: spans(ac.find_cql(q)) for q in chain_qs}
    os.environ["BLACKLAB_SEQ_KERNEL"] = "join"
    try:
        join_r = {q: spans(ac.find_cql(q)) for q in chain_qs}
    finally:
        del os.environ["BLACKLAB_SEQ_KERNEL"]
    assert kernel == join_r
    assert kernel['[pos="noun"] [pos="verb"]'] == [(0, 1, 3), (1, 1, 3), (3, 0, 2)]


def test_unknown_layer_errors(acorp):
    with pytest.raises(ValueError, match="unknown annotation"):
        acorp.find_cql('[xpos="NN"]').collect()


def test_word_only_corpus_rejects_lemma(spark, tmp_root):
    from blacklab_spark.build import build_index
    from blacklab_spark.corpus import Corpus
    from blacklab_spark.datagen import fixture_corpus
    path = f"{tmp_root}/wordonly_idx"
    build_index(spark, spark.createDataFrame(fixture_corpus()), path, block_size=4)
    with pytest.raises(ValueError, match="unknown annotation"):
        Corpus(spark, path).find_cql('[lemma="x"]').collect()

def test_cross_layer_chain_kernel_matches_join(acorp, monkeypatch):
    # r5 (VERDICT #7): cross-layer fixed-gap chains (and the variable-gap
    # tail) run in the positions-chain kernel — blocks keyed (layer,
    # term_id), one doc-range shuffle. The BLACKLAB_SEQ_KERNEL=join baseline
    # must produce identical spans for every chain shape.
    queries = [
        '[pos="det"] [lemma="dog"]',
        '[pos="det"] [lemma="dog"] [word="bark.*"]',
        '[lemma="dog"] []{0,2} [pos="verb"]',   # cross-layer vargap tail
        '[word="a"] [] [lemma="bark"]',
        '[pos="noun"] [pos="noun"]',
    ]
    kernel = {q: spans(acorp.find_cql(q)) for q in queries}
    on_spark = AnnotatedCorpus(acorp.spark, acorp.root)
    for layer in on_spark.layers.values():
        layer._DRIVER_MAX_POSTINGS = -1  # the kernel's Spark path
    assert kernel == {q: spans(on_spark.find_cql(q)) for q in queries}
    monkeypatch.setenv("BLACKLAB_SEQ_KERNEL", "join")
    join = {q: spans(acorp.find_cql(q)) for q in queries}
    monkeypatch.delenv("BLACKLAB_SEQ_KERNEL")
    assert kernel == join
    assert kernel['[pos="det"] [lemma="dog"]'] == [(0, 0, 2), (1, 0, 2)]
    # non-empty guards: the parity must not be vacuous
    assert all(kernel[q] for q in queries[:3]), kernel


TEI = """<TEI xmlns="http://www.tei-c.org/ns/1.0"><teiHeader/><text><body>
<u who="A">
  <s><w lemma="de" pos="det">De</w><w lemma="kat" pos="noun">kat</w>
     <w lemma="slapen" pos="verb">slaapt</w></s>
  <s><w lemma="de" pos="det">de</w><seg type="loud"><w lemma="hond"
     pos="noun">hond</w><w lemma="niet" pos="adv">niet</w></seg></s>
</u>
<u who="B">
  <s><w lemma="kat" pos="noun">Kat</w><w lemma="en" pos="cnj">en</w>
     <w lemma="hond" pos="noun">hond</w></s>
</u>
</body></text></TEI>"""


@pytest.fixture(scope="module")
def teicorp(spark, tmp_root, tmp_path_factory):
    from blacklab_spark.annotated import build_tags
    from blacklab_spark.sources.readers import read_tei_annotated

    d = tmp_path_factory.mktemp("tei")
    (d / "doc.xml").write_text(TEI)
    frame = read_tei_annotated(spark, str(d / "doc.xml")).persist()
    root = f"{tmp_root}/tei_idx"
    build_annotated_index(
        spark, frame, root,
        {"word": "word", "lemma": "lemma", "pos": "pos"},
        block_size=4,
    )
    build_tags(spark, frame, root)
    return AnnotatedCorpus(spark, root), frame


def test_tei_reader_shape(teicorp):
    # one doc per <u>, token-aligned layers, sentence tags in token space
    _, frame = teicorp
    rows = {(r["conv_id"], r["turn_idx"]): r for r in frame.collect()}
    a = rows[("doc.xml", 0)]
    assert a["role"] == "A"
    assert list(a["word"]) == ["de", "kat", "slaapt", "de", "hond", "niet"]
    assert list(a["lemma"])[1] == "kat" and list(a["pos"])[1] == "noun"
    assert [(t["tag"], t["start"], t["end"]) for t in a["tags"]] == [
        ("s", 0, 3), ("seg", 4, 6), ("s", 3, 6)
    ]
    assert dict(a["tags"][1]["attrs"]) == {"type": "loud"}
    b = rows[("doc.xml", 1)]
    assert b["role"] == "B" and list(b["word"]) == ["kat", "en", "hond"]


def test_tag_queries(teicorp):
    # <s/> produces the stored sentence spans (SpanQueryTags)
    ac, _ = teicorp
    assert spans(ac.find_cql("<s/>")) == [
        (0, 0, 3), (0, 3, 6), (1, 0, 3)
    ]
    # hits within a sentence: the 'de hond' bigram crosses no sentence
    # boundary in doc 0 sentence 2; 'slaapt de' CROSSES the boundary and
    # must be filtered out by within
    allb = spans(ac.find_cql('"de" "hond"'))
    assert (0, 3, 5) in allb
    within = spans(ac.find_cql('"de" "hond" within <s/>'))
    assert within == [(0, 3, 5)]
    crossing = spans(ac.find_cql('"slaapt" "de" within <s/>'))
    assert crossing == []          # crosses the s boundary
    assert spans(ac.find_cql('"slaapt" "de"')) == [(0, 2, 4)]
    # <s> q </s> sugar == q within <s/> (tag-enclosed pattern)
    assert spans(ac.find_cql('<s> "de" "hond" </s>')) == within
    # tag + annotation layers compose
    assert spans(ac.find_cql('<s> [pos="noun"] [pos="adv"] </s>')) == [
        (0, 4, 6)
    ]
    # attribute filters (anchored regex values, cql.jj tag attributes)
    assert spans(ac.find_cql('<seg type="loud"/>')) == [(0, 4, 6)]
    assert spans(ac.find_cql('<seg type="lo.*"/>')) == [(0, 4, 6)]
    assert spans(ac.find_cql('<seg type="quiet"/>')) == []
    assert spans(ac.find_cql('<seg type="loud"> "niet" </seg>')) == [
        (0, 5, 6)
    ]
    # mismatched close tag is a parse error
    with pytest.raises(ValueError, match="mismatched"):
        ac.find_cql('<s> "de" </u>')


def test_tag_query_without_tags_table(acorp):
    with pytest.raises(ValueError, match="tags table"):
        acorp.find_cql("<s/>").collect()
