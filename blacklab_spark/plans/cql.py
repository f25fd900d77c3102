"""BCQL subset — parser + DataFrame compiler.

A working subset of BlackLab Corpus Query Language (reference grammar:
/root/reference/query-parser/src/main/javacc/nl/inl/blacklab/queryParser/
corpusql/cql.jj — sequence :476, repetition :425-445, position :594-670,
within/containing :253, global constraints :163-250), compiled onto the
postings-backed span algebra:

    [word="re.*"]            token position, regex anchored to the whole term
    "fox"  /  "the fox"      quoted literal token(s) (multi-word = sequence)
    []                       any token;  []{2,3}  any 2..3-token n-gram
    A B                      sequence (adjacency)
    A []{m,n} B              sequence with gap (SpansSequenceWithGap)
    A{m,n}  A*  A+  A?       repetition (EXACT incl. unbounded * + {m,}:
                             fixed-width bases use run detection, variable-
                             width use a fixpoint — no truncation)
    [word="a" | word="b"]    token-level OR;  & token-level AND;  != negation
    [lemma="x" & pos="y"]    any indexed annotation layer (AnnotatedCorpus)
    (...)                    grouping
    A B | C D  /  A & B      clause-level union / same-extent intersection
                             (booleanQuery level; binds tighter than within)
    (?= B) / (?! B)          zero-width lookahead at the current position
    A within B / containing  position filter (optional ! prefix inverts)
    _posfilter(A, B, 'op'[, 'true'])   the full Operation set: within /
                             containing / starts_at / ends_at / matches /
                             containing_at_start / containing_at_end, with
                             an optional invert flag (XFDebug _posfilter)
    _ident(A) / _adjust(A,'s','e') / _edge(A,'leading|trailing') /
    _lenfilter(A,'min','max') / _fixed('s','e') / _indoc(A,'docid')
                             the rest of the extension-function registry
                             (XFDebug.java:26-115), each mapped onto the
                             corresponding span operator
    rcapture(A[,'label'[,'type']])   capture all type-matching relations
                             within each hit as a sorted string list
                             (XFRelations.rcapture)
    rel('type'[, B[, 'mode'[, 'dir']]])  find relations by type/target,
                             span-adjusted (XFRelations.rel; default mode
                             'source', direction 'both'; `_` = any target)
    with-spans(A, B[, 'label'])  capture every B-span overlapping each hit
                             of A as a sorted list (XFSpans.withSpans)
    lab:X                    capture group -> c_<lab>_s / c_<lab>_e columns
    q :: lab.word = lab2.pos    global constraints via the forward index of
                                the referenced layer (MatchFilterEquals
                                analog; also != and string literals)

The compiler maps every construct to the operators in
blacklab_spark.operators.spans over Corpus postings leaves, so parsing a
query string yields the SAME plans as composing the algebra by hand:
leaves decode positional postings; any-token runs generate from doc lengths
(SpanQueryAnyToken, /root/reference/engine/.../lucene/SpanQueryAnyToken.java:251);
gaps compile into the sequence join (CCAnyExpansion analog); optional units
expand into OR-alternatives (EmptyClauseAlts rewrite,
/root/reference/doc/technical/query rewriting.md:46).
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blacklab_spark.operators import spans as S
from blacklab_spark.tokenizer import tokenize

# Sentinel for an unbounded quantifier upper bound (* + {m,}). Any n >=
# UNBOUNDED means "no upper bound"; compilation is EXACT for these (run
# detection / fixpoint / doc-length clamp), never a silent truncation.
UNBOUNDED = 1 << 30
MAX_ALTERNATIVES = 64  # cap for optional-unit expansion

# "no regex metacharacters, fits the token charset" — Unicode word chars
# (minus underscore) plus the in-token apostrophe; ASCII uppercase excluded
# from the insensitive form (it is only ever tested AFTER desensitization)
_PLAIN_TERM = re.compile(r"^(?:[^\W_A-Z]|')+$")
_PLAIN_TERM_ANYCASE = re.compile(r"^(?:[^\W_]|')+$")
_SENS_FLAG = re.compile(r"^\(\?(?:-i|c)\)")  # (?-i) / (?c): case-sensitive

# query extension functions mapped onto span operators (reference registry
# XFDebug.java:26-115; grammar hook cql.jj:544-558). _posfilter and rspan
# have dedicated nodes; these share the generic XFuncNode.
_XFUNCS = {"_ident", "_adjust", "_edge", "_lenfilter", "_fixed", "_indoc"}


# ------------------------------------------------------------------- AST ----

@dataclass(frozen=True)
class TokClause:          # word="re"  /  lemma!="re"  (any annotation layer)
    pattern: str
    negate: bool = False
    annot: str = "word"


@dataclass(frozen=True)
class TokAnd:
    a: object
    b: object


@dataclass(frozen=True)
class TokOr:
    a: object
    b: object


@dataclass(frozen=True)
class AnyToken:
    pass


@dataclass(frozen=True)
class TokenNode:          # one token position matching a token expression
    expr: object


@dataclass(frozen=True)
class Unit:               # one sequence element with quantifier + capture
    node: object
    m: int = 1
    n: int = 1
    label: str | None = None


@dataclass(frozen=True)
class SeqNode:
    units: tuple


@dataclass(frozen=True)
class Lookahead:          # (?= seq) / (?! seq): zero-width assertion
    node: object
    negative: bool = False


@dataclass(frozen=True)
class PosFilterNode:      # position filter (within/containing infix, plus
    producer: object      # the full _posfilter(...) Operation set)
    filt: object
    op: str               # one of operators.spans.POSFILTER_OPS
    invert: bool = False


@dataclass(frozen=True)
class RelNode:             # A -reltype-> B  /  ^--> B (root relation)
    src: object | None     # None = wildcard side (`[]`)
    rel_type: str          # anchored regex over relation types ('' = any)
    tgt: object | None
    root: bool = False


@dataclass(frozen=True)
class RspanNode:           # rspan(relquery, 'mode') — RelationInfo.SpanMode
    node: object           # must compile to spans carrying c_source_*/c_target_*
    mode: str              # 'source' | 'target' | 'full' | 'all'


@dataclass(frozen=True)
class AlignNode:           # A =reltype=>version B — cross-field alignment
    src: object            # left query (current field)
    rel_type: str          # anchored regex over alignment relation types
    version: str           # target field version suffix (word__<version>)
    tgt: object | None     # right query in the TARGET field; None = `_`


@dataclass(frozen=True)
class RcaptureNode:        # rcapture(q, 'label', 'type') — capture all
    node: object           # type-matching relations within each hit
    label: str = "captured_rels"
    rel_type: str = ".*"


@dataclass(frozen=True)
class RfieldNode:          # rfield(q, 'fieldOrVersion') — the query's hits
    node: object           # projected into another parallel field via the
    version: str           # alignment relations (SpanQueryOtherFieldHits)


@dataclass(frozen=True)
class RelFuncNode:         # rel('type'[, target[, 'mode'[, 'direction']]])
    rel_type: str          # — XFRelations.rel: find relations by type and
    tgt: object | None     # target, span-adjusted to `mode` (default
    mode: str = "source"   # 'source', like the reference)
    direction: str = "both"


@dataclass(frozen=True)
class WithSpansNode:       # with-spans(q, spans, 'label') — capture all
    node: object           # overlapping spans of a second query per hit
    spans: object
    label: str = "with_spans"


@dataclass(frozen=True)
class XFuncNode:          # query extension function (XFDebug/XFSpans family)
    fname: str            # _ident | _adjust | _edge | _lenfilter | _fixed | _indoc
    node: object | None   # the query argument (None for _fixed)
    args: tuple = ()      # string arguments, reference defaults applied


@dataclass(frozen=True)
class TagNode:            # <s/> — spans of an inline tag from the stored
    name: str             # tags table (TextPatternTags / SpanQueryTags,
    attrs: tuple = ()     # ((attr, value-regex), …) filters, like the
    # reference's tag-attribute grammar (cql.jj; values are anchored
    # regexes over the stored attribute map).
    # /root/reference/engine/src/main/java/nl/inl/blacklab/search/lucene/
    # SpanQueryTags.java. `<s> q </s>` parses to
    # PosFilterNode(q, TagNode('s'), 'within') like the reference rewrites
    # tag-enclosed patterns to a within filter.


@dataclass(frozen=True)
class Constraint:         # lhs/rhs: ("cap", label) or ("lit", value)
    lhs: tuple
    rhs: tuple
    negate: bool = False


@dataclass(frozen=True)
class ConstrainedNode:
    q: object
    conditions: tuple = field(default_factory=tuple)


# ---------------------------------------------------------------- lexer -----

_TOKEN_RE = re.compile(
    r"""\s*(?:
      (?P<within>!?within\b) | (?P<containing>!?containing\b)
    | (?P<withspans>with-spans\b)
    | (?P<cons>::)
    | (?P<la>\(\?=) | (?P<lan>\(\?!)
    | (?P<rel>\^?-[A-Za-z0-9_.|*?+]*->)
    | (?P<arel>=[A-Za-z0-9_.|*?+:]*=>[A-Za-z0-9_]*)
    | (?P<tagself><[A-Za-z_][A-Za-z0-9_]*(?:\s+[A-Za-z_][A-Za-z0-9_]*\s*=\s*"[^"]*")*\s*/>)
    | (?P<tagclose></[A-Za-z_][A-Za-z0-9_]*\s*>)
    | (?P<tagopen><[A-Za-z_][A-Za-z0-9_]*(?:\s+[A-Za-z_][A-Za-z0-9_]*\s*=\s*"[^"]*")*\s*>)
    | (?P<lbrack>\[) | (?P<rbrack>\]) | (?P<lpar>\() | (?P<rpar>\))
    | (?P<quant>\{\s*\d+\s*(?:,\s*\d*)?\s*\})
    | (?P<star>\*) | (?P<plus>\+) | (?P<opt>\?)
    | (?P<amp>&) | (?P<pipe>\|) | (?P<neq>!=) | (?P<eq>=) | (?P<dot>\.)
    | (?P<str>"(?:[^"\\]|\\.)*")
    | (?P<sqstr>'[-A-Za-z0-9_.*+?|]*')
    | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
    | (?P<comma>,)
    | (?P<colon>:)
    )""",
    re.X,
)


def _lex(q: str) -> list[tuple[str, str]]:
    out, i = [], 0
    while i < len(q):
        m = _TOKEN_RE.match(q, i)
        if not m or m.end() == m.start():
            if q[i:].strip() == "":
                break
            raise ValueError(f"CQL lex error at {q[i:i+20]!r}")
        i = m.end()
        kind = m.lastgroup
        out.append((kind, m.group(kind)))
    return out


class _Parser:
    def __init__(self, toks: list[tuple[str, str]]):
        self.toks = toks
        self.i = 0

    def peek(self, kind=None):
        if self.i >= len(self.toks):
            return None
        k, v = self.toks[self.i]
        return (k, v) if kind is None or k == kind else None

    def eat(self, kind):
        tok = self.peek(kind)
        if tok is None:
            got = self.toks[self.i] if self.i < len(self.toks) else "EOF"
            raise ValueError(f"CQL parse error: expected {kind}, got {got}")
        self.i += 1
        return tok[1]

    # query := filtered ('::' constraints)?
    def query(self):
        q = self.filtered()
        conds = []
        if self.peek("cons"):
            self.eat("cons")
            conds.append(self.condition())
            while self.peek("amp"):
                self.eat("amp")
                conds.append(self.condition())
        if self.i != len(self.toks):
            raise ValueError(f"CQL trailing input: {self.toks[self.i:]}")
        return ConstrainedNode(q, tuple(conds)) if conds else q

    def condition(self) -> Constraint:
        lhs = self.ref()
        if self.peek("neq"):
            self.eat("neq")
            neg = True
        else:
            self.eat("eq")
            neg = False
        return Constraint(lhs, self.ref(), neg)

    def ref(self):
        if self.peek("str"):
            return ("lit", _unquote(self.eat("str")))
        label = self.eat("ident")
        self.eat("dot")
        annot = self.eat("ident")
        return ("cap", label, annot)

    # filtered := relquery (('within'|'containing') relquery)*
    # relquery := boolean (REL boolean)? | '^-..->' boolean   (cql.jj :288-352)
    # boolean  := seq (('|' | '&') seq)*        (binds tighter than within,
    #             like cql.jj: containingWithinQuery > booleanQuery > sequence)
    @staticmethod
    def _wild(node):
        """`[]` used as a relation side means 'any span' → None (no filter)."""
        if (
            isinstance(node, SeqNode) and len(node.units) == 1
            and isinstance(node.units[0].node, AnyToken)
            and node.units[0].label is None
            and (node.units[0].m, node.units[0].n) == (1, 1)
        ):
            return None
        return node

    def relquery(self):
        if self.peek("rel") and self.peek("rel")[1].startswith("^"):
            op = self.eat("rel")
            rtype = op[2:-2]  # strip ^- and ->
            return RelNode(None, rtype, self._wild(self.boolean()), root=True)
        q = self.boolean()
        if self.peek("rel"):
            op = self.eat("rel")
            rtype = op[1:-2]  # strip - and ->
            return RelNode(
                self._wild(q), rtype, self._wild(self.boolean()), root=False
            )
        if self.peek("arel"):
            # A =reltype=>version B — parallel-corpus alignment operator
            # (cql.jj ALIGNMENT_OP:106; plan-parallel.md `==>de`)
            op = self.eat("arel")
            rtype, version = op[1:].split("=>", 1)
            if not version:
                raise ValueError(
                    "alignment operator needs a target version (e.g. ==>de)"
                )
            if self.peek("ident") and self.peek("ident")[1] == "_":
                self.eat("ident")  # `_` = no right-side filter
                tgt = None
            else:
                tgt = self._wild(self.boolean())
            return AlignNode(q, rtype or ".*", version, tgt)
        return q

    def filtered(self):
        q = self.relquery()
        while self.peek("within") or self.peek("containing"):
            if self.peek("within"):
                v = self.eat("within")
                op = "within"
            else:
                v = self.eat("containing")
                op = "containing"
            q = PosFilterNode(q, self.boolean(), op, invert=v.startswith("!"))
        return q

    def boolean(self):
        first = self.seq()
        if not (self.peek("pipe") or self.peek("amp")):
            return first
        alts, ops = [first], []
        while self.peek("pipe") or self.peek("amp"):
            ops.append("or" if self.peek("pipe") else "and")
            self.eat("pipe" if ops[-1] == "or" else "amp")
            alts.append(self.seq())
        if len(set(ops)) > 1:
            raise ValueError("mixing | and & without parentheses is ambiguous")
        return (("alt" if ops[0] == "or" else "and"), tuple(alts))

    def seq(self) -> SeqNode:
        units = [self.unit_or_lookahead()]
        while True:
            k = self.peek()
            if k and k[0] in ("lbrack", "lpar", "str", "ident", "la", "lan",
                              "withspans", "tagself", "tagopen"):
                units.append(self.unit_or_lookahead())
            else:
                break
        return SeqNode(tuple(units))

    def unit_or_lookahead(self) -> Unit:
        if self.peek("la") or self.peek("lan"):
            neg = self.peek("lan") is not None
            self.eat("lan" if neg else "la")
            inner = self.seq()
            self.eat("rpar")
            return Unit(Lookahead(inner, neg), 1, 1, None)
        return self.unit()

    def _peek2(self, kind):
        if self.i + 1 >= len(self.toks):
            return None
        k, v = self.toks[self.i + 1]
        return (k, v) if k == kind else None

    # unit := (label ':')? atom quant?
    def unit(self) -> Unit:
        label = None
        # an ident is a capture label only when followed by ':' — otherwise
        # it is a function-style atom (rspan(...))
        if self.peek("ident") and self._peek2("colon"):
            label = self.eat("ident")
            self.eat("colon")
        node = self.atom()
        m, n = 1, 1
        if self.peek("quant"):
            qs = self.eat("quant").strip("{} \t")
            if "," in qs:
                a, b = qs.split(",")
                m = int(a)
                n = int(b) if b.strip() else UNBOUNDED
            else:
                m = n = int(qs)
        elif self.peek("star"):
            self.eat("star")
            m, n = 0, UNBOUNDED
        elif self.peek("plus"):
            self.eat("plus")
            m, n = 1, UNBOUNDED
        elif self.peek("opt"):
            self.eat("opt")
            m, n = 0, 1
        if n < m:
            raise ValueError(f"bad quantifier {{{m},{n}}}")
        return Unit(node, m, n, label)

    _TAG_NAME = re.compile(r"^</?\s*([A-Za-z_][A-Za-z0-9_]*)")
    _TAG_ATTR = re.compile(r'([A-Za-z_][A-Za-z0-9_]*)\s*=\s*"([^"]*)"')

    def _tag_node(self, tok: str) -> TagNode:
        name = self._TAG_NAME.match(tok).group(1)
        attrs = tuple(sorted(self._TAG_ATTR.findall(tok)))
        return TagNode(name, attrs)

    def _str_arg(self) -> str:
        """A 'single-quoted', "double-quoted", or bare-ident string argument
        of a function-style atom (the reference's query extension functions
        take string args, cql.jj :544-558); double quotes admit regex
        metacharacters (e.g. a relation-type pattern)."""
        if self.peek("sqstr"):
            return self.eat("sqstr")[1:-1]
        if self.peek("str"):
            return _unquote(self.eat("str"))
        return self.eat("ident")

    # atom := '[' tokexpr? ']' | STR | '(' seq ')'
    #       | rspan '(' relquery ',' MODE ')'
    #       | _posfilter '(' relquery ',' relquery ',' OP [',' INVERT] ')'
    def atom(self):
        if self.peek("tagself"):
            # <s/> / <s n="e"/> — spans of the inline tag, optionally
            # filtered on attributes (SpanQueryTags; cql.jj tag grammar)
            return self._tag_node(self.eat("tagself"))
        if self.peek("tagopen"):
            # <s> q </s> — q within the tag (cql.jj tag grammar; the
            # reference rewrites the enclosed pattern to a within filter)
            tag = self._tag_node(self.eat("tagopen"))
            inner = self.filtered()
            close = self.eat("tagclose")[2:-1].strip()
            if close != tag.name:
                raise ValueError(
                    f"mismatched tag: <{tag.name}> closed by </{close}>"
                )
            return PosFilterNode(inner, tag, "within", False)
        if self.peek("ident") and self.peek("ident")[1] == "_posfilter":
            # _posfilter(producer, filter, operation, inverted) — the full
            # SpanQueryPositionFilter.Operation set, spelled like the
            # reference's extension function (XFDebug.java:118-126;
            # Operation.fromStringValue is case-insensitive)
            from blacklab_spark.operators.spans import POSFILTER_OPS

            self.eat("ident")
            self.eat("lpar")
            prod = self.relquery()
            self.eat("comma")
            filt = self.relquery()
            self.eat("comma")
            mode = self._str_arg().lower()
            invert = False
            if self.peek("comma"):
                self.eat("comma")
                invert = self._str_arg().lower() == "true"
            self.eat("rpar")
            if mode not in POSFILTER_OPS:
                raise ValueError(
                    f"unknown _posfilter operation {mode!r}; "
                    f"one of {POSFILTER_OPS}"
                )
            return PosFilterNode(prod, filt, mode, invert)
        if self.peek("ident") and self.peek("ident")[1] in _XFUNCS:
            # the rest of the reference's extension-function family
            # (XFDebug.java:26-115): _ident / _adjust / _edge / _lenfilter /
            # _fixed / _indoc — each maps onto an existing span operator
            fname = self.eat("ident")
            self.eat("lpar")
            node = None
            args = []
            if fname == "_fixed":  # all-string args (start, end)
                args.append(self._str_arg())
            else:
                node = self.relquery()
            while self.peek("comma"):
                self.eat("comma")
                args.append(self._str_arg())
            self.eat("rpar")
            return XFuncNode(fname, node, tuple(args))
        if self.peek("withspans"):
            # with-spans(q, spans[, 'label']) — XFSpans.withSpans
            # (XFSpans.java:29-41). The reference defaults `spans` to "any
            # inline tag"; turn == doc here (no tags), so the spans query is
            # required. Capture column is c_<label> (default with_spans —
            # underscore, a valid column name; the reference's default
            # capture name is the hyphenated function name).
            self.eat("withspans")
            self.eat("lpar")
            inner = self.relquery()
            self.eat("comma")
            sp = self.relquery()
            label = "with_spans"
            if self.peek("comma"):
                self.eat("comma")
                label = self._str_arg()
            self.eat("rpar")
            return WithSpansNode(inner, sp, label)
        if self.peek("ident") and self.peek("ident")[1] == "rel":
            # rel('type'[, target[, 'mode'[, 'direction']]]) —
            # XFRelations.rel (XFRelations.java:53-75; defaults type '.+',
            # any target, spanMode 'source', direction 'both'); `_` = any
            # target, like the alignment operator's wildcard
            self.eat("ident")
            self.eat("lpar")
            rtype = self._str_arg() or ".+"
            tgt, mode, direction = None, "source", "both"
            if self.peek("comma"):
                self.eat("comma")
                if self.peek("ident") and self.peek("ident")[1] == "_":
                    self.eat("ident")  # `_` = any target (positional skip)
                else:
                    tgt = self._wild(self.boolean())
                if self.peek("comma"):
                    self.eat("comma")
                    mode = self._str_arg()
                    if self.peek("comma"):
                        self.eat("comma")
                        direction = self._str_arg()
            self.eat("rpar")
            if mode not in ("source", "target", "full"):
                raise ValueError(f"unknown rel() span mode {mode!r}")
            if direction not in ("both", "root", "forward", "backward"):
                raise ValueError(f"unknown rel() direction {direction!r}")
            return RelFuncNode(rtype, tgt, mode, direction)
        if self.peek("ident") and self.peek("ident")[1] == "rcapture":
            # rcapture(q[, 'label'[, 'type']]) — XFRelations.rcapture
            # (XFRelations.java:178-186; defaults captured_rels / any type)
            self.eat("ident")
            self.eat("lpar")
            inner = self.relquery()
            label, rtype = "captured_rels", ".*"
            if self.peek("comma"):
                self.eat("comma")
                label = self._str_arg()
            if self.peek("comma"):
                self.eat("comma")
                rtype = self._str_arg()
            self.eat("rpar")
            return RcaptureNode(inner, label, rtype)
        if self.peek("ident") and self.peek("ident")[1] == "rfield":
            # rfield(q, 'fieldOrVersion') — XFRelations.rfield
            # (XFRelations.java:139-151): hits of q mapped into the named
            # parallel field/version through the alignment relations, e.g.
            # to highlight the other version with this query's hits; the
            # query's own field name returns it unchanged
            self.eat("ident")
            self.eat("lpar")
            inner = self.relquery()
            self.eat("comma")
            version = self._str_arg()
            self.eat("rpar")
            if not version:
                raise ValueError(
                    "rfield() requires a field or version name argument"
                )
            return RfieldNode(inner, version)
        if self.peek("ident") and self.peek("ident")[1] == "rspan":
            # rspan(A -rel-> B, 'mode') — adjust the relation match's span
            # (cql.jj relation functions; RelationInfo.SpanMode:83-96)
            self.eat("ident")
            self.eat("lpar")
            inner = self.relquery()
            self.eat("comma")
            mode = self._str_arg()
            self.eat("rpar")
            if mode not in ("source", "target", "full", "all"):
                raise ValueError(f"unknown rspan mode {mode!r}")
            return RspanNode(inner, mode)
        if self.peek("lbrack"):
            self.eat("lbrack")
            if self.peek("rbrack"):
                self.eat("rbrack")
                return AnyToken()
            expr = self.tokexpr()
            self.eat("rbrack")
            return TokenNode(expr)
        if self.peek("lpar"):
            self.eat("lpar")
            s = self.relquery()  # (A | B) / (A & B) / (A B C) / (A -rel-> B)
            self.eat("rpar")
            return s
        if self.peek("str"):
            words = tokenize(_unquote(self.eat("str")))
            if not words:
                raise ValueError("empty quoted token")
            if len(words) == 1:
                return TokenNode(TokClause(re.escape(words[0])))
            return SeqNode(tuple(
                Unit(TokenNode(TokClause(re.escape(w)))) for w in words
            ))
        got = self.toks[self.i] if self.i < len(self.toks) else "EOF"
        raise ValueError(f"CQL parse error at {got}")

    # tokexpr := clause (('&'|'|') clause)*  — left-associative
    def tokexpr(self):
        e = self.tokclause()
        while self.peek("amp") or self.peek("pipe"):
            if self.peek("amp"):
                self.eat("amp")
                e = TokAnd(e, self.tokclause())
            else:
                self.eat("pipe")
                e = TokOr(e, self.tokclause())
        return e

    def tokclause(self) -> TokClause:
        name = self.eat("ident")
        neg = False
        if self.peek("neq"):
            self.eat("neq")
            neg = True
        else:
            self.eat("eq")
        return TokClause(_unquote(self.eat("str")), neg, name)


def _unquote(s: str) -> str:
    """Strip the quotes; unescape ONLY the quote character, scanning ``\\X``
    pairs left-to-right non-overlapping. Every other backslash sequence
    (``\\.``, ``\\d``, ``\\\\`` ...) is passed through intact to the regex
    engine — so ``[word="u\\.s\\."]`` matches the literal dots, matching
    StringUtil.unescapeQuote (reference util/.../StringUtil.java:284-296)."""
    return re.sub(
        r"\\(.)", lambda m: '"' if m.group(1) == '"' else m.group(0), s[1:-1]
    )


def _desensitize_pattern(pattern: str) -> str:
    """Lowercase a pattern destined for a case-insensitive layer, preserving
    backslash escapes: every character is lowered EXCEPT one immediately
    following a backslash, so ``\\D``/``\\W``/``\\S`` (negated classes) keep
    their negated-class meaning. NOTE: only the single character after each
    backslash is protected — content BETWEEN ``\\Q``...``\\E`` markers is
    still lowercased, like the reference's blanket toLowerCase() for @i
    fields (DesensitizedString / MatchSensitivity desensitization); quoted
    uppercase literals on insensitive layers desensitize in both engines."""
    out = []
    i = 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\" and i + 1 < len(pattern):
            out.append(ch)
            out.append(pattern[i + 1])
            i += 2
        else:
            out.append(ch.lower())
            i += 1
    return "".join(out)


def _fold_pattern(pattern: str) -> str:
    """Accent-fold a pattern destined for a FOLDED (i/di-level) layer, same
    escape-preserving walk as _desensitize_pattern. Metacharacters are ASCII
    and fold to themselves, so regex structure survives; digraphs (ĳ/æ/ß)
    expand 1:n — a literal "ĳs" becomes "ijs" and matches the folded layer,
    while a digraph INSIDE a character class would change the class's
    meaning (same caveat class as the reference's blanket lowercasing)."""
    from blacklab_spark.tokenizer import fold_accents

    out = []
    i = 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\" and i + 1 < len(pattern):
            out.append(ch)
            out.append(pattern[i + 1])
            i += 2
        else:
            out.append(fold_accents(ch))
            i += 1
    return "".join(out)


def parse_cql(q: str):
    return _Parser(_lex(q)).query()


# ------------------------------------------------------------- compiler -----

SPAN_COLS = ["doc_id", "start", "end"]


class CqlCompiler:
    """Compile a parsed BCQL tree to a span DataFrame over a Corpus.

    Output: (doc_id long, start int, end int [, c_<label>_s, c_<label>_e ...])
    with engine doc ids; captures are extra int columns.
    """

    def __init__(self, corpus, max_expand: int = 1024, layers: dict | None = None,
                 relations: DataFrame | None = None,
                 folded: set[str] | None = None,
                 alignments: DataFrame | None = None,
                 tags: DataFrame | None = None):
        self.c = corpus
        self.max_expand = max_expand
        self.layers = layers or {"word": corpus}
        self.relations = relations  # (doc_id, rel_type, src_*, tgt_*) table
        self.alignments = alignments  # cross-field rows (+ tgt_field col)
        self.tags = tags  # inline-tag spans (doc_id, tag, start, end)
        # layers whose tokens are accent-FOLDED (i/di sensitivity levels):
        # patterns against them are folded too, like the reference
        # desensitizes the search string per target field
        self.folded = folded or set()

    def _version_compiler(self, version: str) -> "CqlCompiler":
        """A compiler over the TARGET version's fields: layer `word__de`
        serves as that field's `word`, etc. (plan-parallel.md: one annotated
        field per document version, names suffixed `__VERSION`)."""
        suf = "__" + version
        vl = {
            n[: -len(suf)]: c for n, c in self.layers.items() if n.endswith(suf)
        }
        if "word" not in vl:
            raise ValueError(
                f"no fields for version {version!r} (expected a layer "
                f"named word{suf})"
            )
        vf = {n[: -len(suf)] for n in self.folded if n.endswith(suf)}
        return CqlCompiler(
            vl["word"], self.max_expand, vl, relations=None, folded=vf
        )

    # ---- leaves ----
    def _layer(self, annot: str):
        if annot not in self.layers:
            raise ValueError(
                f"unknown annotation {annot!r}; indexed layers: {sorted(self.layers)}"
            )
        return self.layers[annot]

    def _resolve_clause(self, pattern: str, annot: str) -> tuple[str, list[str]]:
        """Pattern → (layer name, concrete term list), with the reference's
        match-sensitivity routing (MatchSensitivity.java:14-17):

        * a ``(?-i)`` / ``(?c)`` pattern prefix forces the case/diacritics-
          SENSITIVE field — here the ``<annot>_s`` layer, which indexes
          case-preserving tokens (tokenizer.tokenize_sensitive);
        * on an insensitive layer the pattern is desensitized (lowercased)
          first, like the reference desensitizes the search string for @i
          fields — so [word="Table"] and [word="Fox.*"] match the
          all-lowercase index. For REGEX patterns only characters outside
          backslash escapes are lowered, so ``\\D``/``\\W``/``\\S`` keep
          their (negated-class) meaning — one deliberate refinement over
          the reference's blanket toLowerCase()."""
        m = _SENS_FLAG.match(pattern)
        if m:
            pattern = pattern[m.end():]
            # (?c)/(?-i) = fully sensitive: route to the BASE annotation's
            # _s layer, also from its _ci/_di sibling levels
            for suf in ("_ci", "_di"):
                if annot.endswith(suf):
                    annot = annot[: -len(suf)]
            if not annot.endswith("_s"):
                annot = annot + "_s"
            if annot not in self.layers:
                raise ValueError(
                    f"case-sensitive search needs an indexed {annot!r} layer"
                )
        elif not annot.endswith("_s") and not annot.endswith("_di"):
            pattern = _desensitize_pattern(pattern)
        if annot in self.folded:
            pattern = _fold_pattern(pattern)
        if _PLAIN_TERM.match(pattern) or (
            annot.endswith("_s") and _PLAIN_TERM_ANYCASE.match(pattern)
        ):
            terms = [pattern]
        else:
            terms = self._layer(annot).expand_pattern(
                pattern, max_terms=self.max_expand
            )
        return annot, terms

    def _eq_spans(self, pattern: str, annot: str = "word") -> DataFrame:
        annot, terms = self._resolve_clause(pattern, annot)
        return self._layer(annot).spans_terms(terms)

    def _pos_clause(self, u: Unit) -> tuple[str, list[str]] | None:
        """(layer, terms) when the unit is one unlabeled, unnegated,
        (1,1)-quantified token clause — eligible for the ARRAY-DOMAIN
        sequence path (per-doc position arrays + array_intersect) whether
        it is a plain term, a regex expansion, or a sensitivity-routed
        clause."""
        if u.label is not None or (u.m, u.n) != (1, 1):
            return None
        if not isinstance(u.node, TokenNode):
            return None
        e = u.node.expr
        if not isinstance(e, TokClause) or e.negate:
            return None
        return self._resolve_clause(e.pattern, e.annot)

    def _any_ngrams(self, m: int, n: int) -> DataFrame:
        """All m..n-token spans per doc, generated from exact doc lengths
        (SpanQueryAnyToken analog) — no token scan, just dl arithmetic."""
        return S.any_ngrams(self.c.doc_lengths(), m, n)

    def _tok_spans(self, expr) -> DataFrame:
        if isinstance(expr, TokClause):
            eq = self._eq_spans(expr.pattern, expr.annot)
            if not expr.negate:
                return eq
            return self._any_ngrams(1, 1).join(
                eq.select("doc_id", "start"), ["doc_id", "start"], "left_anti"
            )
        if isinstance(expr, TokOr):
            return S.span_or(self._tok_spans(expr.a), self._tok_spans(expr.b))
        if isinstance(expr, TokAnd):
            return S.span_and(self._tok_spans(expr.a), self._tok_spans(expr.b))
        raise TypeError(expr)

    # ---- composite ----
    def compile(self, node) -> DataFrame:
        if isinstance(node, TokenNode):
            return self._tok_spans(node.expr)
        if isinstance(node, AnyToken):
            return self._any_ngrams(1, 1)
        if isinstance(node, SeqNode):
            return self._compile_seq(node.units)
        if isinstance(node, tuple) and node and node[0] == "alt":
            frames = [self.compile(a) for a in node[1]]
            out = frames[0].select(*SPAN_COLS)
            for f in frames[1:]:
                out = out.unionByName(f.select(*SPAN_COLS))
            return out.dropDuplicates(SPAN_COLS)
        if isinstance(node, tuple) and node and node[0] == "and":
            # clause-level &: spans with identical extent in every clause
            # (SpanQueryAnd, /root/reference/engine/.../lucene/SpanQueryAnd.java)
            frames = [self.compile(a) for a in node[1]]
            out = frames[0].select(*SPAN_COLS)
            for f in frames[1:]:
                out = S.span_and(out, f.select(*SPAN_COLS))
            return out
        if isinstance(node, PosFilterNode):
            prod = self.compile(node.producer)
            filt = self.compile(node.filt).select(*SPAN_COLS)
            return S.position_filter(prod, filt, node.op, invert=node.invert)
        if isinstance(node, ConstrainedNode):
            return self._apply_constraints(self.compile(node.q), node.conditions)
        if isinstance(node, TagNode):
            # <s/> — spans of the stored inline tag (SpanQueryTags): a
            # partition-local filter + projection over the tags table;
            # composes with within/containing like any span producer
            if self.tags is None:
                raise ValueError(
                    f"tag query <{node.name}/> on a corpus without a tags "
                    "table (build_tags)"
                )
            out = self.tags.filter(F.col("tag") == node.name)
            for k, v in node.attrs:
                if "attrs" not in out.columns:
                    raise ValueError(
                        "tag attribute filter on a tags table without an "
                        "attrs column — rebuild with build_tags"
                    )
                # attribute values are anchored regexes, like the
                # reference's tag-attribute clauses
                out = out.filter(
                    F.col("attrs").getItem(k).rlike(f"^(?:{v})$")
                )
            return out.select(
                "doc_id",
                F.col("start").cast("int").alias("start"),
                F.col("end").cast("int").alias("end"),
            )
        if isinstance(node, RelNode):
            if self.relations is None:
                raise ValueError(
                    "relation query on a corpus without an indexed relations "
                    "table (build_relations)"
                )
            from blacklab_spark.operators.relations import relations_matching

            return relations_matching(
                self.relations,
                None if node.src is None else self.compile(node.src).select(*SPAN_COLS),
                None if node.tgt is None else self.compile(node.tgt).select(*SPAN_COLS),
                rel_type=node.rel_type or ".*",
                direction="root" if node.root else "both",
            )
        if isinstance(node, AlignNode):
            from blacklab_spark.operators.relations import alignment_hits

            if self.alignments is None:
                raise ValueError(
                    "alignment query on a corpus without an alignments "
                    "table (build_alignments)"
                )
            src = self.compile(node.src).select(*SPAN_COLS)
            tgt_spans = None
            if node.tgt is not None:
                tgt_spans = (
                    self._version_compiler(node.version)
                    .compile(node.tgt)
                    .select(*SPAN_COLS)
                )
            return alignment_hits(
                self.alignments, src, node.version, node.rel_type, tgt_spans
            )
        if isinstance(node, RfieldNode):
            from blacklab_spark.operators.relations import alignment_hits

            if node.version in ("", "word"):
                # same field: nothing to project (XFRelations.java:146-148)
                return self.compile(node.node)
            if self.alignments is None:
                raise ValueError(
                    "rfield() on a corpus without an alignments table "
                    "(build_alignments)"
                )
            src = self.compile(node.node).select(*SPAN_COLS)
            # alignment_hits groups by source extent (set semantics for the
            # ==> operator), but rfield is a PER-HIT mapping: k duplicate
            # same-extent inner hits must yield k output hits (the
            # reference's SpanQueryOtherFieldHits maps each Hit). Count
            # multiplicity before the envelope join, re-expand after.
            srcu = src.groupBy(*SPAN_COLS).agg(F.count("*").alias("_dup"))
            env = alignment_hits(self.alignments, srcu, node.version, ".*")
            return (
                env.join(srcu, list(SPAN_COLS))
                .withColumn(
                    "_i", F.explode(F.sequence(F.lit(1), F.col("_dup")))
                )
                .select(
                    "doc_id",
                    F.col("c_target_s").alias("start"),
                    F.col("c_target_e").alias("end"),
                )
            )
        if isinstance(node, RspanNode):
            from blacklab_spark.operators.relations import rspan_all

            df = self.compile(node.node)
            need = {"c_source_s", "c_source_e", "c_target_s", "c_target_e"}
            if not need <= set(df.columns):
                raise ValueError(
                    "rspan() needs a relation match (c_source_*/c_target_* "
                    "capture columns)"
                )
            if node.mode == "all":
                return rspan_all(df)
            if node.mode == "source":
                df = df.filter(F.col("c_source_s") != -1)
                s, e = F.col("c_source_s"), F.col("c_source_e")
            elif node.mode == "target":
                s, e = F.col("c_target_s"), F.col("c_target_e")
            else:  # full envelope; root (src == -1) = the target span
                s = F.when(
                    F.col("c_source_s") == -1, F.col("c_target_s")
                ).otherwise(F.least("c_source_s", "c_target_s"))
                e = F.when(
                    F.col("c_source_s") == -1, F.col("c_target_e")
                ).otherwise(F.greatest("c_source_e", "c_target_e"))
            keep = [c for c in df.columns if c not in ("doc_id", "start", "end")]
            return df.select(
                "doc_id", s.cast("int").alias("start"),
                e.cast("int").alias("end"), *keep,
            )
        if isinstance(node, XFuncNode):
            return self._compile_xfunc(node)
        if isinstance(node, RelFuncNode):
            if self.relations is None:
                raise ValueError(
                    "rel() on a corpus without an indexed relations "
                    "table (build_relations)"
                )
            from blacklab_spark.operators.relations import relations_matching

            return relations_matching(
                self.relations,
                None,
                None if node.tgt is None
                else self.compile(node.tgt).select(*SPAN_COLS),
                rel_type=node.rel_type,
                direction=node.direction,
                span_mode=node.mode,
            )
        if isinstance(node, WithSpansNode):
            return S.capture_overlapping_spans(
                self.compile(node.node),
                self.compile(node.spans).select(*SPAN_COLS),
                node.label,
            )
        if isinstance(node, RcaptureNode):
            if self.relations is None:
                raise ValueError(
                    "rcapture() on a corpus without an indexed relations "
                    "table (build_relations)"
                )
            from blacklab_spark.operators.relations import (
                capture_relations_within,
            )

            return capture_relations_within(
                self.compile(node.node), self.relations,
                node.label, node.rel_type,
            )
        if isinstance(node, Lookahead):
            raise ValueError("a lookahead needs a preceding clause in a sequence")
        raise TypeError(node)

    def _compile_xfunc(self, node: XFuncNode) -> DataFrame:
        """Extension-function dispatch, reference defaults preserved
        (XFDebug.java: _adjust(q, 0, 0), _edge(q, 'leading'),
        _lenfilter(q, 0, 0), _fixed(s, e), _indoc(q, docid), _ident(q))."""
        a = node.args
        if node.fname == "_fixed":
            if len(a) != 2:
                raise ValueError("_fixed takes exactly ('start', 'end')")
            return S.fixed_span(self.c.doc_lengths(), int(a[0]), int(a[1]))
        inner = self.compile(node.node)
        if node.fname == "_ident":
            return inner
        if node.fname == "_indoc":
            if len(a) != 1:
                raise ValueError("_indoc takes exactly one docId argument")
            return inner.filter(F.col("doc_id") == int(a[0]))
        if node.fname == "_adjust":
            s_adj = int(a[0]) if len(a) > 0 else 0
            e_adj = int(a[1]) if len(a) > 1 else 0
            # withColumn (not S.adjust_hits' bare select) so capture
            # columns survive the shift, like SpanQueryAdjustHits
            out = inner.withColumn(
                "start", (F.col("start") + s_adj).cast("int")
            ).withColumn("end", (F.col("end") + e_adj).cast("int"))
            return out.filter(
                (F.col("start") >= 0) & (F.col("end") >= F.col("start"))
            )
        if node.fname == "_edge":
            direction = a[0] if a else "leading"
            if direction not in ("leading", "trailing"):
                raise ValueError(f"_edge direction {direction!r}")
            return S.edge(inner, trailing=direction == "trailing")
        if node.fname == "_lenfilter":
            # max is LITERAL like the reference's SpansFilterByHitLength.accept
            # (l >= min && l <= max) with registered defaults ("0","0")
            # (XFDebug.java:109, SpansFilterByHitLength.java:38): _lenfilter(q)
            # keeps only zero-length hits; unlimited max must be passed
            # explicitly (ADVICE r5 — 0 previously meant unbounded here)
            mn = int(a[0]) if len(a) > 0 else 0
            mx = int(a[1]) if len(a) > 1 else 0
            return S.filter_by_length(inner, mn, mx)
        raise ValueError(f"unknown extension function {node.fname!r}")

    def _static_width(self, node) -> int | None:
        """Token width of every span the node can produce, when statically
        fixed (the NfaState width analysis analog); None = variable."""
        if isinstance(node, (TokenNode, AnyToken)):
            return 1
        if isinstance(node, SeqNode):
            tot = 0
            for u in node.units:
                if u.m != u.n:
                    return None
                w = self._static_width(u.node)
                if w is None:
                    return None
                tot += u.m * w
            return tot
        if isinstance(node, tuple) and node and node[0] in ("alt", "and"):
            ws = {self._static_width(a) for a in node[1]}
            if node[0] == "and":  # identical extents: any known width wins
                ws.discard(None)
            return ws.pop() if len(ws) == 1 else None
        if isinstance(node, ConstrainedNode):
            return self._static_width(node.q)
        if isinstance(node, PosFilterNode):
            return self._static_width(node.producer)
        if isinstance(node, (RcaptureNode, WithSpansNode)):
            return self._static_width(node.node)
        if isinstance(node, XFuncNode):
            if node.fname == "_fixed":
                return int(node.args[1]) - int(node.args[0])
            if node.fname == "_edge":
                return 0
            if node.fname in ("_ident", "_indoc"):
                return self._static_width(node.node)
            if node.fname == "_adjust":
                w = self._static_width(node.node)
                if w is None:
                    return None
                s = int(node.args[0]) if len(node.args) > 0 else 0
                e = int(node.args[1]) if len(node.args) > 1 else 0
                return w + e - s
        return None

    def _compile_unit(self, u: Unit) -> DataFrame:
        """One concrete (m>=1) sequence element; adds capture columns."""
        if isinstance(u.node, AnyToken):
            if u.label is not None and u.m != u.n:
                raise ValueError("capture on a variable-width any-token gap")
            f = self._any_ngrams(u.m, u.n)
        else:
            f = self.compile(u.node)
            if (u.m, u.n) != (1, 1):
                if any(c.startswith("c_") for c in f.columns):
                    raise ValueError("captures inside a repeated group")
                f = f.select(*SPAN_COLS)
                w = self._static_width(u.node)
                m = max(u.m, 1)
                if w is not None:
                    # fixed-width base: exact closed form, one shuffle,
                    # bounded or not (SpanQueryRepetition semantics)
                    f = S.repetition_runs(
                        f, w, m, None if u.n >= UNBOUNDED else u.n
                    )
                elif u.n >= UNBOUNDED:
                    f = S.repetition_fixpoint(f, m)
                else:
                    f = S.repetition(f, u.m, u.n)
        if u.label:
            f = f.withColumn(f"c_{u.label}_s", F.col("start")).withColumn(
                f"c_{u.label}_e", F.col("end")
            )
        return f

    @staticmethod
    def _caps(df: DataFrame) -> list[str]:
        return [c for c in df.columns if c.startswith("c_")]

    def _seq_join(self, a: DataFrame, b: DataFrame, gmin: int, gmax: int) -> DataFrame:
        """A followed by B with gap in [gmin, gmax]; capture columns from both
        sides survive (S.sequence drops them)."""
        aa, bb = a.alias("a"), b.alias("b")
        dup = set(self._caps(a)) & set(self._caps(b))
        if dup:
            raise ValueError(f"duplicate capture labels: {dup}")
        cond = (F.col("a.doc_id") == F.col("b.doc_id")) & (
            F.col("b.start") - F.col("a.end") >= gmin
        )
        if gmax < UNBOUNDED:  # unbounded []* gap: no upper bound needed
            cond = cond & (F.col("b.start") - F.col("a.end") <= gmax)
        return aa.join(bb, cond).select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.start").alias("start"),
            F.col("b.end").alias("end"),
            *[F.col(f"a.{c}") for c in self._caps(a)],
            *[F.col(f"b.{c}") for c in self._caps(b)],
        )

    def _var_extend(self, df: DataFrame, gmin: int, gmax: int, side: str) -> DataFrame:
        """Leading/trailing any-token gap on the sequence edge: extend the
        span by g in [gmin, gmax], clamped to the document bounds. The
        clamp happens BEFORE the explode (least(gmax, room)), so an
        unbounded []* edge gap is exact — it can never extend past the doc
        anyway — and a bounded one never generates rows it must filter."""
        if side == "left":
            room = F.col("start")
            out = df
        else:
            room = F.col("dl") - F.col("end")
            out = df.join(self.c.doc_lengths(), "doc_id")
        out = out.filter(room >= gmin).select(
            "*",
            F.explode(
                F.sequence(F.lit(gmin), F.least(F.lit(gmax), room))
            ).alias("_g"),
        )
        if side == "left":
            out = out.withColumn(
                "start", (F.col("start") - F.col("_g")).cast("int")
            ).drop("_g")
        else:
            out = out.withColumn(
                "end", (F.col("end") + F.col("_g")).cast("int")
            ).drop("_g", "dl")
        return out.dropDuplicates(out.columns)

    def _compile_seq(self, units: tuple) -> DataFrame:
        # expand optional (m=0) units into OR-alternatives (EmptyClauseAlts)
        alts: list[list[Unit]] = [[]]
        for u in units:
            is_gap = isinstance(u.node, AnyToken) and u.label is None
            new = []
            for a in alts:
                if u.m == 0 and not is_gap:  # gaps handle m=0 in the join
                    new.append(list(a))
                    if u.n > 0:
                        if u.label is not None:
                            raise ValueError("capture on an optional unit")
                        new.append(a + [Unit(u.node, 1, u.n, None)])
                else:
                    new.append(a + [u])
            alts = new
            if len(alts) > MAX_ALTERNATIVES:
                raise ValueError("too many optional-unit alternatives")
        frames = [self._compile_seq_concrete(a) for a in alts if a]
        if not frames:
            raise ValueError("sequence matches only the empty string")
        if len(frames) == 1:
            return frames[0]
        cols = frames[0].columns
        if any(f.columns != cols for f in frames[1:]):
            raise ValueError("captures must not differ across optional branches")
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out.dropDuplicates(cols)

    def _run_positions(self, run: list[tuple[str, list[str], int]]) -> DataFrame:
        """Fold a RUN of single-position clauses [(annot, terms, offset)] into
        one (doc_id, positions) frame in run-start coordinates, intersecting
        RAREST CLAUSE FIRST (ascending total df — score_phrase's
        ClauseCombinerNfa cost ordering, corpus.py). Intersection with offset
        bookkeeping is commutative, so anchoring at the lowest-df clause is
        free exactness-wise and means the smallest array drives every
        subsequent array_intersect — a stop-word-first chain like
        "the" "of" "and" no longer intersects its two biggest arrays first.
        Layers may differ across the run: annotation layers are
        position-aligned by construction (annotated.build_annotated_index)."""
        layer_objs = {a: self._layer(a) for a in {an for an, _, _ in run}}
        if (
            len(run) > 1
            and all(hasattr(c, "positions_chain") for c in layer_objs.values())
            and os.environ.get("BLACKLAB_SEQ_KERNEL") != "join"
        ):
            # the doc-range co-located kernel — one shuffle of compressed
            # blocks, partition-local rarest-first intersect with candidate
            # block skipping (no per-clause join at all). r5: cross-LAYER
            # runs ([lemma="x"] [pos="y"]) ride the same kernel — layers
            # share the docID space by construction, blocks are keyed
            # (layer, term_id)
            anchor = layer_objs[run[0][0]]
            return anchor.positions_chain(
                [(terms, off, layer_objs[a]) for a, terms, off in run]
            )
        infos = []
        for annot, terms, off in run:
            ti = self._layer(annot).lookup_terms(terms)
            infos.append((int(ti["df"].sum()) if len(ti) else 0, annot, terms, off))
        # BLACKLAB_SEQ_ORDER=left restores the pre-r4 left-to-right order —
        # kept ONLY as the A/B baseline for benchmark evidence
        if os.environ.get("BLACKLAB_SEQ_ORDER") == "left":
            infos.sort(key=lambda t: t[3])
        else:
            infos.sort(key=lambda t: (t[0], t[3]))
        acc_p = None
        for _, annot, terms, off in infos:
            p = self._layer(annot).positions_of_terms(terms)
            if acc_p is None:
                # anchor, rebased to run-start coordinates (intermediate
                # negatives are fine: the off=0 clause prunes them later)
                acc_p = (
                    p if off == 0
                    else p.select(
                        "doc_id",
                        F.transform(
                            "positions", lambda x: x - F.lit(off)
                        ).alias("positions"),
                    )
                )
            else:
                acc_p = S.seq_positions_extend(acc_p, p, off)
        return acc_p

    def _compile_seq_concrete(self, units: list[Unit]) -> DataFrame:
        """Left-to-right sequence compile. Runs of single-position clauses
        (plain terms, regex expansions, sensitivity-routed — _pos_clause)
        stay in the ARRAY DOMAIN: one (doc_id, positions) row per doc per
        clause, collected per fixed-gap run and intersected rarest-first
        (_run_positions), one shift-explode per VARIABLE finite gap — so a
        whole stop-word phrase shuffles doc rows, never position rows. Only
        captures, repetitions, any-token units and unbounded gaps fall back
        to the row-level _seq_join. r5: runs AFTER a materialized prefix
        (e.g. following a capture unit or a second variable gap) also fold
        in the kernel and join the prefix ONCE — a chain broken by one
        non-kernel unit costs one row join, not one per remaining clause."""
        acc = None
        run: list[tuple[str, list[str], int]] = []  # array-domain clause run
        run_width = 0
        # gap between the materialized prefix and the current run's start
        # (None while the run IS the prefix)
        run_gap: tuple[int, int] | None = None
        lead_gap: tuple[int, int] | None = None
        pend_gap: tuple[int, int] | None = None
        any_total = None

        def materialize() -> None:
            nonlocal acc, run, run_width, run_gap
            if run:
                sp = S.spans_from_positions(
                    self._run_positions(run), run_width
                )
                if acc is None:
                    acc = sp
                else:
                    g = run_gap or (0, 0)
                    acc = self._seq_join(acc, sp, g[0], g[1])
            run, run_width, run_gap = [], 0, None

        for u in units:
            if isinstance(u.node, AnyToken) and u.label is None:
                # fold into the NEXT join as a gap (CCAnyExpansion analog)
                g = (u.m, u.n)
                pend_gap = (
                    g if pend_gap is None
                    else (pend_gap[0] + g[0],
                          min(pend_gap[1] + g[1], UNBOUNDED))
                )
                any_total = (
                    g if any_total is None
                    else (any_total[0] + g[0],
                          min(any_total[1] + g[1], UNBOUNDED))
                )
                continue
            any_total = None
            if isinstance(u.node, Lookahead):
                # zero-width assertion at the current end position
                # (cql.jj sequencePartNoCapture lookahead, :502)
                if acc is None and not run:
                    raise ValueError("lookahead needs a preceding clause")
                materialize()
                if pend_gap is not None:
                    # a gap before a lookahead CONSUMES tokens first: extend
                    # the span right, then assert at the new end
                    acc = self._var_extend(acc, pend_gap[0], pend_gap[1], "right")
                    pend_gap = None
                b = self.compile(u.node.node).select(
                    "doc_id", F.col("start").alias("_la_s")
                )
                how = "left_anti" if u.node.negative else "left_semi"
                acc = (
                    acc.alias("x")
                    .join(
                        b.alias("y"),
                        (F.col("x.doc_id") == F.col("y.doc_id"))
                        & (F.col("y._la_s") == F.col("x.end")),
                        how,
                    )
                    .select("x.*")
                )
                continue
            pc = self._pos_clause(u)
            if acc is None and not run:
                if pend_gap is not None:
                    lead_gap = pend_gap
                    pend_gap = None
                if pc is not None:
                    annot, terms = pc
                    run = [(annot, terms, 0)]
                    run_width = 1
                else:
                    acc = self._compile_unit(u)
                continue
            gmin, gmax = pend_gap or (0, 0)
            pend_gap = None
            if pc is not None and run and gmin == gmax:
                # fixed gap: stay in the array domain, width grows —
                # prefix AND suffix runs alike
                annot, terms = pc
                run.append((annot, terms, run_width + gmin))
                run_width += gmin + 1
                continue
            if pc is not None and not run:
                # start a SUFFIX run after the materialized prefix (r5):
                # subsequent fixed-gap clauses fold in the kernel and the
                # prefix is joined ONCE when the run closes
                annot, terms = pc
                run = [(annot, terms, 0)]
                run_width = 1
                run_gap = (gmin, gmax)
                continue
            if acc is None and run and pc is not None:
                annot, terms = pc
                if gmax < UNBOUNDED:
                    # variable finite gap: fold the run rarest-first, then
                    # one intersect per gap value, spans out — inside the
                    # doc-range kernel (cross-layer runs included, r5)
                    lobjs = {a: self._layer(a) for a, _, _ in run}
                    anchor = lobjs[run[0][0]]
                    if (
                        hasattr(anchor, "spans_chain_vargap")
                        and all(
                            hasattr(c, "positions_chain")
                            for c in lobjs.values()
                        )
                        and hasattr(self._layer(annot), "positions_chain")
                        and os.environ.get("BLACKLAB_SEQ_KERNEL") != "join"
                    ):
                        acc = anchor.spans_chain_vargap(
                            [(t, off, lobjs[a]) for a, t, off in run],
                            run_width, terms, gmin, gmax,
                            tail_corpus=self._layer(annot),
                        )
                        run, run_width = [], 0
                        continue
                    apdf, w = self._run_positions(run), run_width
                    run, run_width = [], 0
                    acc = S.seq_positions_pair(
                        apdf, w,
                        self._layer(annot).positions_of_terms(terms),
                        gmin, gmax,
                    )
                    continue
            if pc is not None and run:
                # variable gap inside a SUFFIX run (or unbounded gap after a
                # prefix run): close the run — one join — and start the next
                # run after the gap
                materialize()
                annot, terms = pc
                run = [(annot, terms, 0)]
                run_width = 1
                run_gap = (gmin, gmax)
                continue
            materialize()
            acc = self._seq_join(acc, self._compile_unit(u), gmin, gmax)
        materialize()
        if acc is None:
            # pure any-token sequence: standalone []{m,n}
            m, n = any_total
            return self._any_ngrams(max(m, 1), n)
        if pend_gap is not None:
            acc = self._var_extend(acc, pend_gap[0], pend_gap[1], "right")
        if lead_gap is not None:
            acc = self._var_extend(acc, lead_gap[0], lead_gap[1], "left")
        return acc

    def _apply_constraints(self, df: DataFrame, conds: tuple) -> DataFrame:
        """Global constraints: look the captured token up in the forward
        index (tokens column) — MatchFilterEquals analog (/root/reference/
        engine/src/main/java/nl/inl/blacklab/search/matchfilter/
        MatchFilterEquals.java)."""
        caps = set(self._caps(df))
        used_annots = sorted({
            r[2] for cond in conds for r in (cond.lhs, cond.rhs) if r[0] == "cap"
        })
        out = df
        for annot in used_annots:  # one forward-index join per referenced layer
            out = out.join(
                self._layer(annot).docs.select(
                    "doc_id", F.col("tokens").alias(f"_toks_{annot}")
                ),
                "doc_id",
            )

        def ref_expr(ref):
            if ref[0] == "lit":
                return F.lit(ref[1])
            _, label, annot = ref
            col = f"c_{label}_s"
            if col not in caps:
                raise ValueError(f"constraint references unknown capture {label!r}")
            return F.element_at(f"_toks_{annot}", F.col(col) + 1)

        for cond in conds:
            e = ref_expr(cond.lhs) == ref_expr(cond.rhs)
            out = out.filter(~e if cond.negate else e)
        return out.drop(*[f"_toks_{a}" for a in used_annots])


class PlanCache:
    """Plan-keyed search-result cache — the SearchCache analog
    (/root/reference/engine/src/main/java/nl/inl/blacklab/searches/
    SearchCache.java). Keys are (index root, index version, NORMALIZED plan):
    the query is parsed and rewritten to fixpoint, so any syntactic variant
    that rewrites to the same plan shares one persisted DataFrame. LRU with
    unpersist-on-evict; a version bump (append) makes old entries
    unreachable and they age out of the LRU.

    Thread-safe: BLS-style serving (and bench's concurrent pool) issues
    queries from many threads, so the OrderedDict mutation + eviction
    unpersist run under one lock. Only the CACHE BOOKKEEPING is locked —
    the (potentially slow) plan build runs outside it; two threads racing
    the same cold key may both build, and the FIRST insert wins (the later
    builder's DataFrame is unpersisted and the winner served), which is
    correct and avoids serializing distinct queries behind one long build."""

    def __init__(self, max_entries: int = 64):
        import threading
        from collections import OrderedDict

        self._od = OrderedDict()
        self._lock = threading.RLock()
        self.max_entries = max_entries
        self.hits = 0
        self.misses = 0

    def _normalize(self, query: str) -> str:
        from blacklab_spark.plans.rewrite import rewrite

        return repr(rewrite(parse_cql(query)))

    def get_or_build(self, root: str, version, query: str, build) -> DataFrame:
        return self.get_or_build_key(
            root, version, ("cql", self._normalize(query)), build
        )

    def get_or_build_key(self, root: str, version, subkey, build) -> DataFrame:
        """Raw-key variant for non-CQL plans (the BM25 search/score paths key
        on (kind, terms, k) directly — no AST to normalize)."""
        key = (root, version, subkey)
        with self._lock:
            if key in self._od:
                self.hits += 1
                self._od.move_to_end(key)
                return self._od[key]
            self.misses += 1
        from pyspark import StorageLevel

        df = build()
        if not df.isLocal():  # a driver-path LocalRelation needs no cache job
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
        evicted = []
        with self._lock:
            prev = self._od.pop(key, None)
            if prev is not None:
                evicted.append(df)  # lost the build race; serve the winner
                df = prev
            self._od[key] = df
            while len(self._od) > self.max_entries:
                _, old = self._od.popitem(last=False)
                evicted.append(old)
        for old in evicted:
            old.unpersist()
        return df


def find_cql(corpus, query: str) -> DataFrame:
    """Parse + rewrite + compile a BCQL query over a built corpus: the
    BlackLab find(CorpusQueryLanguageParser.parse(q)) path (/root/reference/
    query-parser/.../CorpusQueryLanguageParser.java:28) with the planner
    rewrite pass (plans/rewrite.py) in between."""
    from blacklab_spark.plans.rewrite import rewrite

    return CqlCompiler(corpus).compile(rewrite(parse_cql(query)))
