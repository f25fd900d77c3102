"""Seeded inputs for the benchmark: transcript turns and request streams.

The corpus has the shape the engine indexes, (conv_id, turn_idx, role, text,
tool, ts), and the statistics of the repository's fixture corpus: Zipf(1.1)
term choice over ten stopwords plus w0001..w5000, Poisson(12)+1 tokens per
turn, 3% verbatim repeats of an earlier turn, 0.5% empty turns and
conversations of 2-50 turns. It is generated here, not by the engine's own
datagen module, so a change to the engine cannot change the workloads;
``corpus_checksum`` pins each seed's bytes (see checksums.json).

Conversation ids are zero-padded under prefixes that sort in generation
order (base ``b``, delta ``d``), so the engine's dense doc ids equal the
generation order, before and after compaction.
"""

from __future__ import annotations

import datetime as dt
import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "for", "on", "with")
ROLES = ("user", "assistant", "system", "tool")
TOOLS = ("search", "bash", "browse", "calc")
VOCAB_SIZE = 5000
EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

# independent random streams drawn from one seed
_BASE, _DELTA, _REQUESTS = 0, 1, 2


def vocabulary() -> np.ndarray:
    return np.array(list(STOPWORDS) + [f"w{i:04d}" for i in range(1, VOCAB_SIZE + 1)])


def _rng(seed: int, stream: int, sub: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, stream, sub])


def make_turns(
    n: int,
    rng: np.random.Generator,
    conv_prefix: str,
    first_ts: int = 0,
    fresh_terms: tuple[str, ...] = (),
) -> pd.DataFrame:
    """n turns; each of ``fresh_terms`` replaces one token in a few turns."""
    vocab = vocabulary()
    probs = np.arange(1, len(vocab) + 1, dtype=np.float64) ** -1.1
    probs /= probs.sum()

    lengths = rng.poisson(12, n) + 1
    lengths[rng.random(n) < 0.005] = 0
    offsets = np.concatenate(([0], np.cumsum(lengths)))
    words = vocab[rng.choice(len(vocab), size=int(offsets[-1]), p=probs)].astype(object)
    for term in fresh_terms:
        at = rng.choice(int(offsets[-1]), size=int(rng.integers(2, 7)), replace=False)
        words[at] = term
    texts = [" ".join(words[offsets[i]:offsets[i + 1]]) for i in range(n)]
    for i in np.flatnonzero(rng.random(n) < 0.03):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))]

    sizes, placed = [], 0
    while placed < n:
        sizes.append(min(int(rng.integers(2, 51)), n - placed))
        placed += sizes[-1]
    roles = np.array(ROLES)[rng.integers(0, len(ROLES), n)]
    tools = np.where(roles == "tool", np.array(TOOLS)[rng.integers(0, len(TOOLS), n)], "")
    return pd.DataFrame({
        "conv_id": np.repeat([f"{conv_prefix}{i:07d}" for i in range(len(sizes))], sizes),
        "turn_idx": np.concatenate([np.arange(s) for s in sizes]).astype(np.int32),
        "role": roles,
        "text": texts,
        "tool": tools,
        "ts": [EPOCH + dt.timedelta(seconds=first_ts + i) for i in range(n)],
    })


def fresh_terms(count: int) -> tuple[str, ...]:
    """Terms that occur only in the delta."""
    return tuple(f"fresh{j:02d}" for j in range(count))


@dataclass
class Corpus:
    """A base corpus and the delta appended to it."""

    base: pd.DataFrame
    delta: pd.DataFrame

    def everything(self) -> pd.DataFrame:
        return pd.concat([self.base, self.delta], ignore_index=True)


def make_corpus(seed: int, n_base: int, delta_turns: int, n_fresh: int) -> Corpus:
    base = make_turns(n_base, _rng(seed, _BASE), "b")
    delta = make_turns(delta_turns, _rng(seed, _DELTA), "d", n_base, fresh_terms(n_fresh))
    return Corpus(base, delta)


def corpus_checksum(corpus: Corpus) -> str:
    h = hashlib.sha256()
    for df in (corpus.base, corpus.delta):
        for col in ("conv_id", "turn_idx", "role", "text", "tool"):
            h.update("\x1f".join(map(str, df[col])).encode())
            h.update(b"\x1e")
        h.update(str(int(df["ts"].iloc[-1].timestamp()) if len(df) else 0).encode())
    return h.hexdigest()


# ---------------------------------------------------------------- requests --


@dataclass(frozen=True)
class Request:
    """One call into the engine. ``key`` identifies it verbatim."""

    kind: str
    terms: tuple[str, ...]
    k: int = 10
    text: str = ""  # the query string for search / CQL kinds

    @property
    def key(self) -> tuple:
        return (self.kind, self.terms, self.k, self.text)


SELECTIVE_KINDS = ("sel_term", "sel_or3", "sel_and", "sel_phrase", "sel_regex", "sel_page")
HEAVY_KINDS = (
    "heavy_or_stop", "heavy_term_k1000", "heavy_and", "heavy_phrase",
    "heavy_cql_gap", "heavy_cql_seq3", "heavy_colloc", "heavy_page_group",
)
HEAVY_REPEAT_EVERY = 5  # every fifth request repeats an earlier one
_HEAD = tuple(f"w{i:04d}" for i in range(1, 31))


def cql_terms(terms) -> str:
    return " ".join(f'"{t}"' for t in terms)


def selective_stream(seed: int, tokens: list[list[str]], band: list[str], n: int,
                     part: int = 0):
    """n distinct requests over rare terms (``band``), kinds in turn, so every
    run sends the same mix whatever its length; ``part`` picks an independent
    stream of the same seed.
    ``tokens`` are the base corpus's turns; phrases and AND partners are
    taken from turns that contain the rare term, so every request has hits."""
    rng = _rng(seed, _REQUESTS, 2 * part)
    where: dict[str, list[tuple[int, int]]] = {t: [] for t in band}
    for d, toks in enumerate(tokens):
        for p, t in enumerate(toks):
            if t in where:
                where[t].append((d, p))
    seen: set = set()
    out: list[Request] = []
    while len(out) < n:
        kind = SELECTIVE_KINDS[len(out) % len(SELECTIVE_KINDS)]
        t = band[int(rng.integers(len(band)))]
        d, p = where[t][int(rng.integers(len(where[t])))]
        toks = tokens[d]
        if kind == "sel_term":
            req = Request(kind, (t,))
        elif kind == "sel_or3":
            others = rng.choice(len(band), size=2, replace=False)
            req = Request(kind, tuple(sorted({t, *(band[i] for i in others)})))
        elif kind == "sel_and":  # the rare term AND a stopword of the same turn
            partner = [x for x in toks if x in STOPWORDS]
            if not partner:
                continue
            req = Request(kind, (t, partner[int(rng.integers(len(partner)))]))
        elif kind == "sel_phrase":
            if len(toks) < 2:
                continue
            s = p if p + 1 < len(toks) else p - 1
            pair = (toks[s], toks[s + 1])
            req = Request(kind, pair, text=f'"{pair[0]} {pair[1]}"')
        elif kind == "sel_regex":
            digits = sorted({t[-1], str(int(rng.integers(10)))})
            pattern = f"{t[:-1]}[{''.join(digits)}]"
            req = Request(kind, (pattern,), text=f"/{pattern}/")
        else:  # sel_page
            req = Request(kind, (t,), text=cql_terms((t,)))
        if req.key not in seen:
            seen.add(req.key)
            out.append(req)
    return out


def heavy_stream(seed: int, n: int, part: int = 0) -> list[Request]:
    """n requests over stopwords and head terms, kinds in turn; every fifth
    repeats an earlier request verbatim so the search cache's hit path runs.
    ``part`` picks an independent stream of the same seed.

    Each term is drawn from a narrow band of Zipf ranks, so one seed's
    requests cost about what another's do: a term's postings grow roughly
    tenfold from rank 10 to rank 1."""
    if n > 5 * 8 * 9 // 4:  # the smallest pool, heavy_cql_gap's, has 9 requests
        raise ValueError(f"at most 90 distinct heavy requests, not {n}")
    rng = _rng(seed, _REQUESTS, 2 * part + 1)
    stop = list(STOPWORDS)

    def pick(pool, m):
        return tuple(pool[i] for i in rng.choice(len(pool), size=m, replace=False))

    seen: set = set()
    out: list[Request] = []
    fresh = 0
    while len(out) < n:
        if len(out) % HEAVY_REPEAT_EVERY == HEAVY_REPEAT_EVERY - 1:
            # the search cache answers a repeat of any kind but heavy_colloc
            pool = [r for r in out if r.kind != "heavy_colloc"]
            out.append(pool[int(rng.integers(len(pool)))])
            continue
        kind = HEAVY_KINDS[fresh % len(HEAVY_KINDS)]
        if kind == "heavy_or_stop":  # one stopword from each rank band
            req = Request(kind, tuple(sorted(pick(stop[:2], 1) + pick(stop[2:5], 1)
                                             + pick(stop[5:], 1))))
        elif kind == "heavy_term_k1000":
            req = Request(kind, pick(_HEAD[:10], 1), k=1000)
        elif kind == "heavy_and":
            req = Request(kind, (pick(stop[:3], 1)[0], pick(_HEAD[:10], 1)[0]))
        elif kind == "heavy_phrase":
            req = Request(kind, (pick(stop[:3], 1)[0], pick(_HEAD[:10], 1)[0]))
        elif kind == "heavy_cql_gap":
            pair = (pick(stop[:3], 1)[0], pick(stop[3:6], 1)[0])
            req = Request(kind, pair, text=f'"{pair[0]}" []{{0,2}} "{pair[1]}"')
        elif kind == "heavy_cql_seq3":
            trio = (pick(stop[:3], 1)[0], pick(stop[3:6], 1)[0], pick(_HEAD[:10], 1)[0])
            req = Request(kind, trio, text=cql_terms(trio))
        elif kind == "heavy_colloc":
            req = Request(kind, pick(_HEAD[10:20], 1))
        else:  # heavy_page_group
            pair = (pick(stop[:3], 1)[0], pick(_HEAD[:10], 1)[0])
            req = Request(kind, pair, k=1000, text=cql_terms(pair))
        if req.key not in seen:
            seen.add(req.key)
            out.append(req)
            fresh += 1
    return out
