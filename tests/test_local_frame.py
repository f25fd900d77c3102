"""LocalFrame, the driver path's result carrier: what it answers from its
Arrow table (count, collect, limit/take/first, schema, columns) equals what
its JVM relation, built on first JVM use, answers for the same frame, for
every schema the driver path returns, non-empty and empty. Transformations
run on the relation, and a search-cache hit hands back the same LocalFrame."""

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as JvmFrame

from blacklab_spark.build import build_index
from blacklab_spark.corpus import _DECODED_POS_SCHEMA, Corpus, LocalFrame, local_frame
from blacklab_spark.datagen import fixture_corpus
from blacklab_spark.operators.spans import spans_from_positions


@pytest.fixture(scope="module")
def lc(spark, tmp_root):
    path = f"{tmp_root}/local_frame_idx"
    build_index(spark, spark.createDataFrame(fixture_corpus()), path, block_size=3)
    c = Corpus(spark, path)
    c.lookup_terms([]), c.postings, c.docs
    return c


def driver_results(c):
    """name → a driver-path result, one per schema, non-empty and empty.
    A page's window ("window", "kwic") is sliced in the driver, so its
    relation is built from that slice: parity here checks the slice's
    values and types, and test_driver_path's page tests check which hits
    the slice holds against the Spark path."""
    the_quick = [(["the"], 0), (["quick"], 1)]
    missing = [(["zzzabsent"], 0), (["the"], 1)]
    page = c.hits_page('"the"', group_by="doc_id", context=2, number=3)
    window = c.hits_page('"the"', group_by="start", max_process=5, first=1, number=3)
    empty = c.hits_page('"zzzabsent"', group_by="doc_id", context=2)
    return {
        "top_k": c.search_or(["the", "quick"], 5),
        "scores": c.score_or(["the", "fox"]),
        "phrase": c.search_phrase(["the", "quick"], 5),
        "term_spans": c.spans_term("the"),
        "chain_spans": c.find_cql('"the" "quick" "brown"'),
        "vargap_spans": c.find_cql('"the" []{0,2} "fox"'),
        "decoded": local_frame(
            c.spark, _DECODED_POS_SCHEMA,
            c._decoded_positions(c.lookup_terms(["the", "be"])),
        ),
        "term_positions": c.term_positions("the"),
        "chain": c.positions_chain(the_quick),
        "chain_dl": c.positions_chain(the_quick, with_dl=True),
        "chain_exploded": spans_from_positions(c.positions_chain(the_quick), 2),
        "summary": page.summary,
        "groups": page.groups,
        "kwic": page.hits,
        "window": window.hits,
        "start_groups": window.groups,
        "empty_top_k": c.search_or(["zzzabsent"], 5),
        "empty_phrase": c.search_phrase(["the", "zzzabsent"], 5),
        "empty_spans": c.find_cql('"zzzabsent"'),
        "empty_decoded": local_frame(c.spark, _DECODED_POS_SCHEMA),
        "empty_term_positions": c.term_positions("zzzabsent"),
        "empty_chain": c.positions_chain(missing),
        "empty_chain_dl": c.positions_chain(missing, with_dl=True),
        "no_hits_summary": empty.summary,
        "empty_groups": empty.groups,
        "empty_kwic": empty.hits,
    }


NAMES = [
    "top_k", "scores", "phrase", "term_spans", "chain_spans", "vargap_spans",
    "decoded", "term_positions", "chain", "chain_dl", "chain_exploded",
    "summary", "groups", "kwic", "window", "start_groups", "empty_top_k",
    "empty_phrase", "empty_spans", "empty_decoded", "empty_term_positions",
    "empty_chain", "empty_chain_dl", "no_hits_summary", "empty_groups",
    "empty_kwic",
]


@pytest.fixture(scope="module")
def results(lc):
    out = driver_results(lc)
    assert sorted(out) == sorted(NAMES)
    return out


@pytest.mark.parametrize("name", NAMES)
def test_table_answers_equal_the_jvm(results, name):
    """repr() of the rows compares values AND their Python types (1 is not
    1.0, a list is not a tuple), as Spark's collect() returns them."""
    df = results[name]
    assert isinstance(df, LocalFrame)
    jvm = JvmFrame.collect(df)
    assert bool(jvm) != name.startswith("empty_")  # not a vacuous parity
    assert repr(df.collect()) == repr(jvm)
    assert df.count() == JvmFrame.count(df) == len(jvm)
    assert df.schema == JvmFrame.schema.func(df)
    assert df.columns == [f.name for f in JvmFrame.schema.func(df).fields]
    assert df.isLocal()
    for n in sorted({0, 1, 2, len(jvm), len(jvm) + 1}):
        lim = df.limit(n)
        assert isinstance(lim, LocalFrame)
        assert repr(lim.collect()) == repr(JvmFrame.collect(JvmFrame.limit(df, n)))
        assert repr(df.take(n)) == repr(jvm[:n])
    assert repr(df.first()) == repr(jvm[0] if jvm else None)


def test_transformations_run_on_the_relation(lc):
    """A filter or a join of a LocalFrame is a plain DataFrame over its
    relation, with the rows the table implies."""
    spans = lc.find_cql('"the"')
    rows = [tuple(r) for r in spans.collect()]
    assert rows
    late = spans.filter(F.col("start") > 0)
    assert not isinstance(late, LocalFrame)
    assert sorted(tuple(r) for r in late.collect()) == sorted(
        r for r in rows if r[1] > 0)
    dls = {r["doc_id"]: r["dl"] for r in lc.doc_lengths().collect()}
    joined = spans.join(lc.docs.select("doc_id", "dl"), "doc_id")
    assert not isinstance(joined, LocalFrame)
    assert sorted(tuple(r) for r in joined.collect()) == sorted(
        (d, s, e, dls[d]) for d, s, e in rows)


def test_search_cache_hit_is_the_same_local_frame(lc):
    lc.enable_search_cache()
    try:
        for get in (
            lambda: lc.find_cql('"the" "quick"'),
            lambda: lc.score_or(["the", "fox"], 3),
            lambda: lc.score_phrase(["the", "quick"]),
        ):
            first = get()
            assert isinstance(first, LocalFrame)
            assert get() is first
        assert lc._search_cache.hits == 3
    finally:
        lc._search_cache = None


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


def test_plain_projection_stays_local(lc, relations):
    """select of column names and selectExpr of names, each optionally
    `AS alias`, are LocalFrames over the table's columns, built with no
    relation; their names, types and rows are the relation's."""
    spans = lc.find_cql('"the"')
    cases = [
        ("selectExpr", ("doc_id", "start as pos")),
        ("selectExpr", ("end", "start AS s", "doc_id")),
        ("select", ("doc_id", "start")),
    ]
    local = [getattr(spans, m)(*args) for m, args in cases]
    assert all(isinstance(df, LocalFrame) for df in local)
    got = [(repr(df.collect()), df.schema) for df in local]
    assert relations == []
    want = [getattr(JvmFrame, m)(spans, *args) for m, args in cases]
    assert got == [(repr(df.collect()), df.schema) for df in want]
    assert [df.columns for df in local] == [
        ["doc_id", "pos"], ["end", "s", "doc_id"], ["doc_id", "start"]]


def test_other_projections_go_to_the_relation(lc):
    """An expression, a Column, a name in other case, a name repeated and an
    unknown name are projected by the relation: the same rows and schema,
    or the same error."""
    spans = lc.find_cql('"the"')
    for m, args in [
        ("selectExpr", ("start + 1 as s",)),
        ("select", (F.col("start"),)),
        ("selectExpr", ("DOC_ID",)),
        ("select", ("doc_id", "doc_id")),
        ("selectExpr", ("start as pos", "end as POS")),
    ]:
        got, want = getattr(spans, m)(*args), getattr(JvmFrame, m)(spans, *args)
        assert not isinstance(got, LocalFrame)
        assert (repr(got.collect()), got.schema) == (repr(want.collect()), want.schema)
    for m in ("select", "selectExpr"):
        errors = []
        for call in (getattr(spans, m), lambda *a: getattr(JvmFrame, m)(spans, *a)):
            with pytest.raises(AnalysisException) as e:
                call("doc_id", "nope")
            errors.append((e.value.getCondition(), e.value.getMessageParameters()))
        assert errors[0] == errors[1]
