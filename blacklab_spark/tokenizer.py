"""Tokenizer — deterministic, Unicode-aware, vectorized, tri-engine locked.

Contract (FIXTURES.md §3): lowercase, then findall the Unicode word pattern.
Tokens keep their diacritics (`café` → `['café']`); accent FOLDING is a
sensitivity-layer concern (see fold_accents below), mirroring the reference's
4-level MatchSensitivity (/root/reference/engine/src/main/java/nl/inl/blacklab/
search/indexmetadata/MatchSensitivity.java:14-17):

    s   sensitive            raw tokens            tokenize_sensitive
    i   insensitive          fold(lower(tok))      tokenize_insensitive
    ci  case-insensitive     lower(tok)            tokenize  (the default)
    di  diacritics-insens.   fold(tok)             fold_accents ∘ tokenize_sensitive

The default single-layer index is the ci level; sensitivity-aware indexes
build the other levels as derived layers (annotated.sensitivity_layers).

THREE regex engines must agree on the token boundary — Python re (the build
pandas UDF + oracle), Java regex (Spark SQL regexp_extract_all in derived-
layer helpers), and RE2 (the DuckDB oracle). The classes are equivalent on
the BMP (verified exhaustively, tests/test_sensitivity.py):

    Python  [^\\W_]          == Java/RE2  [\\p{L}\\p{N}]

Known engine skew, all on codepoints recent Unicode versions added (absent
from fixtures/testdata, pinned by test):
  * Java 17 lacks ~56 BMP Lo letters (Arabic Ext-B etc.) newer tables have;
  * DuckDB/RE2 knows ~196 supplementary-plane letters Python 3.11 doesn't;
  * lower() differs on 9 exotic BMP caps (İ Ⱟ Ꟁ…) between engines.

Accent folding is an EXPLICIT map applied at the WHOLE-TOKEN level (a 1:n
replacement cannot break token alignment — positions index tokens, not
chars), in two parts shared bit-for-bit by all three engines:

  * a 1:1 char map (NFD → strip combining marks where one base char
    remains, plus the reference's Ł/ł special case, StringUtil.java:137-151)
    applied via str.translate / SQL translate(ACCENT_FROM, ACCENT_TO);
  * a small DIGRAPH map (ĳ→ij, æ→ae, œ→oe, ß→ss + capitals) applied via
    chained SQL replace() before the translate (fold_sql builds the
    expression; Python str.translate takes the merged map directly).

The digraph folds go BEYOND the reference's stripAccents, whose own comment
admits "this doesn't correctly remove ligatures" (StringUtil.java:132) — a
Dutch insensitive search for "ijs" should hit "ĳs" (VERDICT r4 #2), so the
i/di levels fold ligatures here; divergence documented in COVERAGE.md.
Pattern-side folding (plans/cql._fold_pattern) applies the same map per
char: metacharacters are ASCII and fold to themselves; a digraph INSIDE a
character class expands 1:n and changes the class's meaning — the same
caveat class as the reference's blanket toLowerCase() desensitization.

The vectorized paths (`*_series`) are pandas str-method pipelines used
inside Arrow-batched pandas UDFs — no per-row Python in the Spark hot path.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd

# Python side: Unicode letters+digits (word chars minus underscore)
TOKEN_PATTERN = r"[^\W_]+(?:'[^\W_]+)?"
TOKEN_RE = re.compile(TOKEN_PATTERN)

# Java (Spark SQL) side: same class spelled with Unicode properties
TOKEN_PATTERN_JAVA = r"[\p{L}\p{N}]+(?:'[\p{L}\p{N}]+)?"

# DuckDB (RE2) side: same, with the apostrophe doubled for SQL literals
TOKEN_PATTERN_SQL = r"[\p{L}\p{N}]+(?:''[\p{L}\p{N}]+)?"


def tokenize(text: str) -> list[str]:
    """Scalar tokenizer (oracle / tests): the ci level — case-folded,
    diacritics preserved. tokenize('Café') == ['café']."""
    if text is None:
        return []
    return TOKEN_RE.findall(text.lower())


def tokenize_series(texts: pd.Series) -> pd.Series:
    """Vectorized tokenizer: pd.Series[str] -> pd.Series[list[str]]."""
    return texts.fillna("").str.lower().str.findall(TOKEN_RE)


def tokenize_series_with_offsets(
    texts: pd.Series,
) -> tuple[pd.Series, pd.Series, pd.Series]:
    """Tokens + [start, end) CHAR offsets into the RAW text — the content
    store's token→character map (the role the reference's content store +
    punct annotation serve for faithful concordances, engine/.../search/
    results/hitresults/Kwics.java:27-46). finditer runs over the raw text
    (the token class is case-closed, so matches equal the lowered pass for
    any text where lower() is length-preserving — same alignment contract
    as tokenize_sensitive); token VALUES are lowered to keep the ci level.
    Returns (tokens, starts, ends) series of equal-length lists."""
    def one(t):
        toks, ss, es = [], [], []
        for m in TOKEN_RE.finditer(t):
            toks.append(m.group().lower())
            ss.append(m.start())
            es.append(m.end())
        return toks, ss, es

    # fillna like tokenize_series: pandas missing text may be float NaN
    # (truthy!), which `t or ""` would pass through to finditer
    trip = texts.fillna("").map(one)
    return (
        trip.map(lambda x: x[0]),
        trip.map(lambda x: x[1]),
        trip.map(lambda x: x[2]),
    )


# --- case-SENSITIVE variant (the reference's @s sensitivity) -----------------
# Position-alignment contract: sensitive tokens are matched on the RAW text;
# for any text whose lower() maps letters to single letters (virtually all
# real text) lower(tokenize_sensitive(t)) == tokenize(t) position by
# position. Exotic one-to-many lowercasings (U+0130) can break alignment —
# derive the insensitive layers from the sensitive one (transform(.., lower))
# when several levels are indexed together, as sensitivity_layers does.

TOKEN_PATTERN_SENSITIVE = TOKEN_PATTERN  # same class; no pre-lowering
TOKEN_RE_SENSITIVE = TOKEN_RE
TOKEN_PATTERN_SENSITIVE_SQL = TOKEN_PATTERN_SQL
TOKEN_PATTERN_SENSITIVE_JAVA = TOKEN_PATTERN_JAVA


def tokenize_sensitive(text: str) -> list[str]:
    """Scalar case+diacritics-preserving tokenizer (the s level)."""
    if text is None:
        return []
    return TOKEN_RE_SENSITIVE.findall(text)


# --- accent folding (the di/i levels) ----------------------------------------

def _build_accent_map() -> dict[int, str]:
    """1:1 fold map over Latin-1 Supplement .. Latin Extended-B plus Latin
    Extended Additional (covers Dutch/French/German/Vietnamese vocab): for
    each char, NFD-decompose, drop combining marks (Mn); keep the mapping
    only when exactly one base char remains and it differs from the input.
    Deterministic pure function of the unicodedata tables."""
    out: dict[int, str] = {}
    for cp in list(range(0x00C0, 0x0250)) + list(range(0x1E00, 0x1F00)):
        ch = chr(cp)
        base = "".join(
            c for c in unicodedata.normalize("NFD", ch)
            if unicodedata.category(c) != "Mn"
        )
        if len(base) == 1 and base != ch:
            out[cp] = base
    # the stroke letters NFD can't decompose but the reference folds by hand
    # (StringUtil.convertRemainingAccentCharacters, StringUtil.java:141-151)
    out[0x0141] = "L"  # Ł
    out[0x0142] = "l"  # ł
    return out


_ACCENT_MAP = _build_accent_map()
# the same map as parallel strings for Spark/DuckDB translate(src, FROM, TO)
ACCENT_FROM = "".join(chr(cp) for cp in sorted(_ACCENT_MAP))
ACCENT_TO = "".join(_ACCENT_MAP[cp] for cp in sorted(_ACCENT_MAP))

# 1:n ligature/digraph folds (beyond the reference's stripAccents — see the
# module docstring). Applied token-level; SQL side = chained replace().
DIGRAPH_FOLDS = {
    "ĳ": "ij", "Ĳ": "IJ",
    "æ": "ae", "Æ": "AE",
    "œ": "oe", "Œ": "OE",
    "ß": "ss", "ẞ": "SS",
}
_FULL_FOLD_MAP = {**_ACCENT_MAP, **{ord(k): v for k, v in DIGRAPH_FOLDS.items()}}

# Version of the fold convention baked into every i/di layer at build time.
# Queries fold patterns with the CURRENT convention, so an index built under
# a different one silently misses (e.g. stored 'ß' vs folded query 'ss').
# Indexes stamp fold_version in _meta.json; Corpus warns and add_to_index
# refuses on mismatch (ADVICE r5).
#   1 = accent-only 1:1 map (r4)
#   2 = + DIGRAPH_FOLDS ĳ/æ/œ/ß and Ł/ł (r5)
FOLD_VERSION = 2


def fold_accents(s: str) -> str:
    """é→e, ü→u, ñ→n, ĳ→ij, ß→ss … via the explicit map (NOT unicodedata at
    call time — the map is the contract shared with the SQL fold_sql()
    expression). str.translate accepts 1:n values, so one pass covers both
    the accent and digraph parts."""
    return s.translate(_FULL_FOLD_MAP)


def fold_sql(expr: str) -> str:
    """The identical fold as a SQL expression (valid in Spark SQL and
    DuckDB): digraph replace() chain, then translate(ACCENT_FROM, ACCENT_TO).
    Order is irrelevant (the two maps' domains are disjoint) but pinned:
    replaces inside, translate outside."""
    for src in sorted(DIGRAPH_FOLDS):
        expr = f"replace({expr}, '{src}', '{DIGRAPH_FOLDS[src]}')"
    return f"translate({expr}, '{ACCENT_FROM}', '{ACCENT_TO}')"


# --- sensitive (tertiary-strength) collation ---------------------------------
# The reference's SENSITIVE collator is ICU Collator at TERTIARY strength
# (engine/src/main/java/nl/inl/blacklab/forwardindex/Collators.java:3-40):
# base letters compare first (primary), then diacritics (secondary), then
# case (tertiary). No ICU in this environment, so we reproduce the UCA
# LEVEL STRUCTURE for Latin-script vocabularies with three aligned strings
# compared lexicographically in sequence:
#   primary   = fold(lower(term))           — the insensitive key
#   secondary = lower(term) with each accented char replaced by a one-char
#               ACCENT-CLASS symbol (Private-Use-Area chars, assigned in
#               combining-mark codepoint order — DUCET's secondary weights
#               for the Latin diacritics ascend with mark codepoint);
#               unaccented chars stay themselves, so equal-primary terms
#               diverge exactly at the first accent difference
#   tertiary  = term with every UPPERCASE char replaced by one high PUA
#               symbol — lowercase sorts before uppercase, per UCA
# joined with chr(1) separators (sorts below any real char, so prefixes
# rank first) and the raw term as the final deterministic tiebreak.
# Documented approximations vs real ICU (COVERAGE.md): multi-mark
# Vietnamese chars rank by their full mark tuple, not DUCET's per-mark
# interleave; ß orders after 'ss' at the secondary instead of tertiary
# level (same resulting order); non-Latin scripts fall back to codepoint
# order. All three engines (Python str, Spark UTF8String, DuckDB varchar
# binary collation) compare these strings identically: UTF-8 byte order
# equals codepoint order.

def _build_collation_tables() -> tuple[dict[int, str], dict[int, str]]:
    marks: dict[int, tuple[str, ...]] = {}
    for cp in _ACCENT_MAP:
        ms = tuple(
            c for c in unicodedata.normalize("NFD", chr(cp))
            if unicodedata.category(c) == "Mn"
        )
        if ms:
            marks[cp] = ms
    classes = sorted(set(marks.values()))
    # stroke letters (Ł/ł) decompose to nothing — a synthetic class after
    # every real diacritic, like DUCET ranks the stroke variants last
    sym = {cls: chr(0xE100 + i) for i, cls in enumerate(classes)}
    stroke = chr(0xE100 + len(classes))
    sec = {
        cp: sym[marks[cp]] for cp in marks if not chr(cp).isupper()
    }
    for cp in (0x0142,):  # ł (lowercased input never shows Ł)
        sec[cp] = stroke
    upper = chr(0xE7FF)
    ter = {
        cp: upper
        for cp in list(range(0x41, 0x5B)) + sorted(_ACCENT_MAP)
        + [ord(c) for c in DIGRAPH_FOLDS]
        if chr(cp).isupper()
    }
    return sec, ter


_SEC_MAP, _TER_MAP = _build_collation_tables()
SEC_FROM = "".join(chr(cp) for cp in sorted(_SEC_MAP))
SEC_TO = "".join(_SEC_MAP[cp] for cp in sorted(_SEC_MAP))
TER_FROM = "".join(chr(cp) for cp in sorted(_TER_MAP))
TER_TO = "".join(_TER_MAP[cp] for cp in sorted(_TER_MAP))


def collation_key_sensitive_py(term: str) -> str:
    """Python twin of collation_sql_sensitive — identical bytes by
    construction (shared maps, same chr(1) layout)."""
    low = term.lower()
    return "\x01".join(
        (fold_accents(low), low.translate(_SEC_MAP), term.translate(_TER_MAP),
         term)
    )


def collation_sql_sensitive(expr: str) -> str:
    """The sensitive tertiary-strength collation key as one SQL expression,
    valid in both Spark SQL and DuckDB (translate/replace/lower/concat/chr
    only — no engine-specific regexp flags)."""
    prim = fold_sql(f"lower({expr})")
    sec = f"translate(lower({expr}), '{SEC_FROM}', '{SEC_TO}')"
    ter = f"translate({expr}, '{TER_FROM}', '{TER_TO}')"
    return f"concat({prim}, chr(1), {sec}, chr(1), {ter}, chr(1), {expr})"


def tokenize_insensitive(text: str) -> list[str]:
    """The i level: case- AND diacritics-folded tokens —
    tokenize_insensitive('Café') == ['cafe']."""
    return [fold_accents(t) for t in tokenize(text)]


def tokenize_insensitive_series(texts: pd.Series) -> pd.Series:
    """Vectorized i level. Same fold contract as the scalar
    tokenize_insensitive: _FULL_FOLD_MAP (accents AND ĳ/æ/œ/ß digraphs) —
    the two must agree byte-for-byte (pinned in test_sensitivity.py)."""
    return tokenize_series(texts).map(
        lambda toks: [t.translate(_FULL_FOLD_MAP) for t in toks]
    )
