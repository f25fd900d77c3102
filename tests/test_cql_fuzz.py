"""CQL fuzzing: randomly generated queries must agree with an independent
pure-Python span evaluator on the fixture corpus.

The evaluator interprets the RAW parse tree set-theoretically (no Spark, no
rewrite pass), so a mismatch implicates the lexer/parser, the rewrite rules,
or the DataFrame compiler — the reference's TestSearches idea, but generated
instead of enumerated (the repo's pytest strategy extends SURVEY §5.1 with
property-based coverage)."""

import re

import pytest
from hypothesis import given, settings, strategies as st

from blacklab_spark.build import build_index
from blacklab_spark.corpus import Corpus
from blacklab_spark.datagen import fixture_corpus
from blacklab_spark.plans.cql import (
    AnyToken,
    Lookahead,
    PosFilterNode,
    SeqNode,
    TokAnd,
    TokClause,
    TokOr,
    TokenNode,
    parse_cql,
)
from blacklab_spark.tokenizer import tokenize


# ------------------------------------------------ naive span evaluator -----

def _tok_match(expr, tok) -> bool:
    if isinstance(expr, TokClause):
        # a token is its word, or {annotation: value} on an annotated corpus
        val = tok[expr.annot] if isinstance(tok, dict) else tok
        hit = re.fullmatch(expr.pattern, val) is not None
        return hit != expr.negate
    if isinstance(expr, TokAnd):
        return _tok_match(expr.a, tok) and _tok_match(expr.b, tok)
    if isinstance(expr, TokOr):
        return _tok_match(expr.a, tok) or _tok_match(expr.b, tok)
    raise TypeError(expr)


def _atom_spans(node, toks: list[str]) -> set[tuple[int, int]]:
    if isinstance(node, PosFilterNode):  # _posfilter(...) used as an atom
        return _eval_doc(node, toks)
    if isinstance(node, AnyToken):
        return {(i, i + 1) for i in range(len(toks))}
    if isinstance(node, TokenNode):
        return {(i, i + 1) for i, t in enumerate(toks) if _tok_match(node.expr, t)}
    if isinstance(node, SeqNode):
        return _seq_spans(node.units, toks)
    if isinstance(node, tuple) and node and node[0] == "alt":
        out = set()
        for a in node[1]:
            out |= _eval_doc(a, toks)
        return out
    if isinstance(node, tuple) and node and node[0] == "and":
        sets = [_eval_doc(a, toks) for a in node[1]]
        out = sets[0]
        for x in sets[1:]:
            out &= x
        return out
    raise TypeError(node)


def _seq_spans(units, toks) -> set[tuple[int, int]]:
    states = {(i, i) for i in range(len(toks) + 1)}
    for u in units:
        if isinstance(u.node, Lookahead):
            inner = _eval_doc(u.node.node, toks)
            starts = {s for s, _ in inner}
            keep = (lambda e: e in starts) if not u.node.negative else (
                lambda e: e not in starts
            )
            states = {(s, e) for s, e in states if keep(e)}
            continue
        if isinstance(u.node, AnyToken) and u.label is None:
            states = {
                (s, e + g)
                for s, e in states
                for g in range(u.m, min(u.n, len(toks) - e) + 1)
            }
            continue
        base = _atom_spans(u.node, toks)
        ext = set()
        for s, e in states:
            if u.m == 0:
                ext.add((s, e))
            cur = {e}
            for k in range(1, u.n + 1):
                cur = {e2 for c in cur for (c2, e2) in base if c2 == c}
                if not cur:
                    break
                if k >= max(u.m, 1):
                    ext |= {(s, c) for c in cur}
        states = ext
    return {(s, e) for s, e in states if e > s}


def _eval_doc(node, toks) -> set[tuple[int, int]]:
    if isinstance(node, SeqNode):
        return _seq_spans(node.units, toks)
    if isinstance(node, PosFilterNode):
        prod = _eval_doc(node.producer, toks)
        filt = _eval_doc(node.filt, toks)
        preds = {  # SpansPositionFilter.java:332-495, all 7 Operation modes
            "within": lambda p, f: f[0] <= p[0] and p[1] <= f[1],
            "containing": lambda p, f: p[0] <= f[0] and f[1] <= p[1],
            "starts_at": lambda p, f: f[0] == p[0],
            "ends_at": lambda p, f: f[1] == p[1],
            "matches": lambda p, f: f[0] == p[0] and f[1] == p[1],
            "containing_at_start": lambda p, f: f[0] == p[0] and f[1] <= p[1],
            "containing_at_end": lambda p, f: f[0] >= p[0] and f[1] == p[1],
        }
        pred = preds[node.op]
        sel = {p for p in prod if any(pred(p, f) for f in filt)}
        return sel if not node.invert else prod - sel
    return _atom_spans(node, toks)


def eval_cql(query: str, docs_tokens: dict[int, list[str]]):
    node = parse_cql(query)
    out = set()
    for doc_id, toks in docs_tokens.items():
        out |= {(doc_id, s, e) for s, e in _eval_doc(node, toks)}
    return out


# ------------------------------------------------------------ strategies ---

VOCAB = ["the", "quick", "fox", "mier", "aap", "noot", "be", "force", "zzz"]

_atom = st.one_of(
    st.sampled_from([f'"{w}"' for w in VOCAB]),
    st.sampled_from([
        '[word="m.*"]',
        '[word="no.*" | word="aap"]',
        '[word != "the"]',
        '[word="a.*" & word != "aap"]',
    ]),
)
_quant = st.sampled_from(["", "", "?", "{1,2}", "{2,2}", "{0,1}", "+", "{2,}"])
_unit = st.builds(lambda a, q: a + q, _atom, _quant)
_gap = st.sampled_from(["", "[]", "[]{0,1}", "[]{1,2}", "[]{0,2}", "[]*"])

# single-position clauses: words, a regex, regex alternations (OR of terms)
_run_atom = st.sampled_from(
    [f'"{w}"' for w in VOCAB]
    + ['[word="m.*"]', '[word="[a-m].*"]', '[word="noot|aap"]',
       '[word="th.*|fox"]']
)
# a fixed-gap run of 2-3 clauses, adjacent or one token apart
_run = st.lists(
    st.tuples(st.sampled_from(["", "[] "]), _run_atom), min_size=2, max_size=3
).map(lambda xs: xs[0][1] + "".join(f" {g}{a}" for g, a in xs[1:]))

# head, then optionally a gap and a tail: a one-clause head followed by a
# quantified unit, an unbounded gap or (in _query) a lookahead closes a
# one-clause run
_seq = st.builds(
    lambda head, gap, tail:
        " ".join(filter(None, (head, gap, tail))) if tail else head,
    st.one_of(
        _unit.filter(lambda u: not u.endswith("?") and "{0," not in u), _run
    ),
    _gap,
    st.one_of(st.none(), _unit, _run),
)

_posfilter_op = st.sampled_from([
    "within", "containing", "starts_at", "ends_at", "matches",
    "containing_at_start", "containing_at_end",
])

_query = st.one_of(
    _seq,
    st.builds(lambda a, b: f"{a} | {b}", _seq, _seq),
    st.builds(lambda a, b: f"{a} & {b}", _seq, _seq),
    st.builds(lambda a, b: f"{a} within ({b})", _seq, _seq),
    st.builds(lambda a, b: f"{a} !within ({b})", _seq, _seq),
    st.builds(lambda a, b: f"{a} containing ({b})", _seq, _seq),
    # r5: the full position-filter Operation set ±invert
    st.builds(
        lambda a, b, op, inv:
            f"_posfilter(({a}), ({b}), '{op}', '{str(inv).lower()}')",
        _seq, _seq, _posfilter_op, st.booleans(),
    ),
    st.builds(lambda a, b: f"{a} (?= {b})", _seq, _unit),
    st.builds(lambda a, b: f"{a} (?! {b})", _seq, _unit),
)


@pytest.fixture(scope="module")
def fuzz_idx(spark, tmp_root):
    pdf = fixture_corpus()
    path = f"{tmp_root}/fuzz_idx"
    build_index(spark, spark.createDataFrame(pdf), path, block_size=4)
    toks = {i: tokenize(t) for i, t in enumerate(pdf["text"])}
    return Corpus(spark, path), toks


@pytest.fixture(scope="module")
def fuzz_idx_spark(spark, fuzz_idx):
    """fuzz_idx's index with the driver path's postings bound at -1: the
    postings kernels run on Spark instead of in the driver."""
    c, toks = fuzz_idx
    spark_c = Corpus(spark, c.paths.root)
    spark_c._DRIVER_MAX_POSTINGS = -1
    return spark_c, toks


def _matches_naive(idx, q):
    c, docs_tokens = idx
    expected = eval_cql(q, docs_tokens)
    got = {
        (r["doc_id"], r["start"], r["end"])
        for r in c.find_cql(q).select("doc_id", "start", "end").collect()
    }
    assert got == expected, q


@settings(max_examples=30, deadline=None)
@given(q=_query)
def test_cql_fuzz_matches_naive_evaluator(fuzz_idx, q):
    _matches_naive(fuzz_idx, q)


@settings(max_examples=30, deadline=None)
@given(q=_query)
def test_cql_fuzz_matches_naive_evaluator_on_spark(fuzz_idx_spark, q):
    _matches_naive(fuzz_idx_spark, q)


# --------------- r4: sensitivity-layer fuzz (4-level routing) ---------------
# The naive side mirrors the compiler's routing CONTRACT (flag strip → _s;
# desensitize unless _s/_di; fold for folded layers) using the compiler's own
# pattern transforms, then fullmatches against per-layer token values — so a
# mismatch implicates layer derivation, routing, or the span compiler.

SENS_VOCAB = ["Café", "café", "cafe", "CAFE", "Müller", "muller", "the", "Thé"]

_sens_texts = [
    "Café the muller", "cafe Thé CAFE", "Müller café the",
    "the the Café cafe", "Thé Müller CAFE muller",
]


@pytest.fixture(scope="module")
def sens_fuzz_idx(spark, tmp_root):
    import pandas as pd

    from blacklab_spark.annotated import AnnotatedCorpus, build_sensitivity_index
    from blacklab_spark.tokenizer import fold_accents, tokenize_sensitive

    rows = [
        ("conv-f", i, tokenize_sensitive(t)) for i, t in enumerate(_sens_texts)
    ]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "word_s"])
    root = f"{tmp_root}/sens_fuzz_idx"
    build_sensitivity_index(spark, spark.createDataFrame(pdf), root, block_size=4)
    layers = {}
    for i, t in enumerate(_sens_texts):
        raw = tokenize_sensitive(t)
        layers[i] = [
            {
                "word": fold_accents(w.lower()),
                "word_ci": w.lower(),
                "word_di": fold_accents(w),
                "word_s": w,
            }
            for w in raw
        ]
    return AnnotatedCorpus(spark, root), layers


_sens_annot = st.sampled_from(["word", "word_ci", "word_di", "word_s"])
_sens_pat = st.sampled_from(
    [f"{w}" for w in SENS_VOCAB]
    + ["caf.*", "Caf.*", ".*é.*", "[Mm]üller", "(?c)Café", "(?-i)CAFE", "th.*"]
)
_sens_clause = st.builds(lambda a, p: f'[{a}="{p}"]', _sens_annot, _sens_pat)
_sens_query = st.one_of(
    _sens_clause,
    st.builds(lambda a, b: f"{a} {b}", _sens_clause, _sens_clause),
)


def _naive_sens_eval(query, layers):
    from blacklab_spark.plans.cql import (
        _SENS_FLAG,
        _desensitize_pattern,
        _fold_pattern,
    )

    node = parse_cql(query)
    folded = {"word", "word_di"}

    def clause_match(expr, posdict):
        assert isinstance(expr, TokClause)
        annot, pat = expr.annot, expr.pattern
        m = _SENS_FLAG.match(pat)
        if m:
            pat = pat[m.end():]
            for suf in ("_ci", "_di"):
                if annot.endswith(suf):
                    annot = annot[: -len(suf)]
            if not annot.endswith("_s"):
                annot = annot + "_s"
        elif not annot.endswith("_s") and not annot.endswith("_di"):
            pat = _desensitize_pattern(pat)
        if annot in folded:
            pat = _fold_pattern(pat)
        hit = re.fullmatch(pat, posdict[annot]) is not None
        return hit != expr.negate

    out = set()
    for doc_id, toks in layers.items():
        units = node.units if isinstance(node, SeqNode) else (node,)
        width = len(units)
        for s in range(len(toks) - width + 1):
            ok = True
            for j, u in enumerate(units):
                un = u.node if hasattr(u, "node") else u
                if not clause_match(un.expr, toks[s + j]):
                    ok = False
                    break
            if ok:
                out.add((doc_id, s, s + width))
    return out


@pytest.fixture(scope="module")
def sens_fuzz_idx_spark(spark, sens_fuzz_idx):
    """sens_fuzz_idx with every layer's driver-path bound at -1 (Spark)."""
    from blacklab_spark.annotated import AnnotatedCorpus

    ac, layers = sens_fuzz_idx
    spark_ac = AnnotatedCorpus(spark, ac.root)
    for c in spark_ac.layers.values():
        c._DRIVER_MAX_POSTINGS = -1
    return spark_ac, layers


def _sens_matches_naive(idx, q):
    ac, layers = idx
    expected = _naive_sens_eval(q, layers)
    got = {
        (r["doc_id"], r["start"], r["end"])
        for r in ac.find_cql(q).select("doc_id", "start", "end").collect()
    }
    assert got == expected, q


@settings(max_examples=25, deadline=None)
@given(q=_sens_query)
def test_sensitivity_fuzz_matches_naive(sens_fuzz_idx, q):
    _sens_matches_naive(sens_fuzz_idx, q)


@settings(max_examples=25, deadline=None)
@given(q=_sens_query)
def test_sensitivity_fuzz_matches_naive_on_spark(sens_fuzz_idx_spark, q):
    _sens_matches_naive(sens_fuzz_idx_spark, q)
