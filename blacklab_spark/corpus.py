"""Corpus — the query-side API over a built index.

Replaces BlackLab's BlackLabIndex.search()/find() surface
(/root/reference/engine/src/main/java/nl/inl/blacklab/search/BlackLabIndex.java:168-240)
with DataFrame plans:

  * term lookup       → term_dict parquet scan with pushed-down predicate
                        (≈ Lucene TermsEnum seek)
  * postings decode   → mapInPandas vectorized varint decode + BM25 in numpy
                        (≈ PostingsEnum walk, but Arrow-batched)
  * rarest-first      → query terms processed in df-ascending order — the
                        WAND ordering; the reference's cost-model analog is
                        ClauseCombinerNfa.getFactor (/root/reference/engine/src/
                        main/java/nl/inl/blacklab/search/lucene/optimize/
                        ClauseCombinerNfa.java:144-201)
  * block-max pruning → single-term top-k decodes the highest-bound blocks
                        first, then drops every block whose exact
                        block_max_score is below θ, the k-th best score so
                        far (block-max WAND as a filter, partition-local)
  * top-k             → orderBy(score desc, doc_id asc).limit(k) — Spark
                        compiles this to TakeOrderedAndProject (bounded
                        per-partition heaps + driver merge, no global sort)
  * driver path       → the same block kernels run in the driver over a
                        pyarrow read, chosen at plan time when the postings
                        a query reads (summed df of every term whose blocks
                        it reads, for every shape) are ≤ _DRIVER_MAX_POSTINGS
                        and the row groups to read fit in one task's split
                        (≤ spark.sql.files.maxPartitionBytes, from the
                        footers). Steps pass Arrow tables; what the caller
                        gets is a LocalFrame, which answers count/collect/
                        limit and plain projections from its table and
                        builds its JVM relation only on first JVM use.
                        count_hits, hits_page (ungrouped or grouped by a span
                        column), and grouping's collocations and span KWIC
                        over such hits and Corpus.docs run in the driver too

Float64 parity contract (SURVEY.md §7.3/§7.4): per-term contributions are
computed with the SAME numpy code as the oracle; multi-term sums fold in
ascending term_id order (== ascending term order, since term_id is the dense
rank of the term string), bitwise-identical to the oracle's accumulation.
"""

from __future__ import annotations

import json
import math
import os
import re
from dataclasses import dataclass
from functools import cache, partial
from types import SimpleNamespace
from urllib.parse import urlparse

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from blacklab_spark import codecs, scoring
from blacklab_spark.build import IndexPaths
from blacklab_spark.plans.parser import AndQuery, OrQuery, PhraseQuery, parse_query

_SCORES = "doc_id long, score double"
_KEYS = {"postings": "term_id", "docs": "doc_id"}  # the driver path's read keys
_SPANS = "doc_id long, start int, end int"
_SPAN_TYPES = dict(c.split() for c in _SPANS.split(", "))
_DECODED_POS_SCHEMA = (
    "term_id long, doc_id long, tf int, dl int, positions array<long>"
)
_EMPTY_SCORES = pd.DataFrame(
    {"doc_id": pd.Series(dtype="int64"), "score": pd.Series(dtype="float64")}
)
_PLAIN = re.compile(r"([A-Za-z_]\w*)(?:\s+[Aa][Ss]\s+([A-Za-z_]\w*))?", re.ASCII)
# key packing for the positions-chain kernel: within one doc-range
# partition, key = (doc_id - lo) * 2^33 + (start + 2^32). Safe while
# (n_docs / shuffle.partitions) < 2^30 — at 10^12 docs a cluster run
# sets spark.sql.shuffle.partitions >= ~10^4, keeping rel-doc < 10^8.
_PC_DOC_MULT = np.int64(1) << 33
_PC_POS_BIAS = np.int64(1) << 32


@cache  # fromDDL is a JVM call: one per DDL string
def _arrow_schema(schema: str) -> pa.Schema:
    return to_arrow_schema(T.DataType.fromDDL(schema))


def driver_table(schema: str, data=None) -> pa.Table:
    """Driver-built rows (pandas or Arrow; empty when None) as an Arrow
    table with the Arrow types of the DDL `schema`."""
    target = _arrow_schema(schema)
    if data is None:
        return target.empty_table()
    if isinstance(data, pd.DataFrame):
        return pa.Table.from_pandas(data, schema=target, preserve_index=False)
    return data.select(target.names).cast(target)


class LocalFrame(ClassicDataFrame):
    """A driver result: its Arrow table, plus a JVM relation over the same
    rows (createDataFrame of the table) built on first JVM use: a
    transformation, join, explain, persist, toPandas and the like. count,
    collect, isLocal, schema/columns, limit(n), hence take/first/head, and
    a projection of plain column names (select; selectExpr, each optionally
    `AS alias`) read the table: no Spark job, no Py4J call, no relation."""

    def __new__(cls, *args, **kwargs):  # DataFrame's calls __init__(jdf, session)
        return object.__new__(cls)

    def __init__(self, spark: SparkSession, table: pa.Table):
        super().__init__(None, spark)
        self.table = table
        self.__dict__["schema"] = from_arrow_schema(table.schema)  # the cached property

    @property
    def _jdf(self):
        if "_jdf" not in self.__dict__:  # racing threads: the first stored wins
            jdf = self._session.createDataFrame(self.table, self.schema)._jdf
            self.__dict__.setdefault("_jdf", jdf)
        return self.__dict__["_jdf"]

    @_jdf.setter
    def _jdf(self, jdf):  # DataFrame.__init__ sets None: not built yet
        if jdf is not None:
            self.__dict__["_jdf"] = jdf

    def count(self) -> int:
        return self.table.num_rows

    def collect(self) -> list[Row]:
        row = Row(*self.table.column_names)
        return [row(*v) for v in zip(*(c.to_pylist() for c in self.table.columns))]

    def isLocal(self) -> bool:
        return True

    def limit(self, num: int) -> "LocalFrame":
        if num >= self.table.num_rows:
            return self
        return LocalFrame(self.sparkSession, self.table.slice(0, num))

    def select(self, *cols) -> DataFrame:
        return self._project(cols, False, super().select)

    def selectExpr(self, *expr) -> DataFrame:
        return self._project(expr, True, super().selectExpr)

    def _project(self, args, renames: bool, on_jvm) -> DataFrame:
        """The table's columns named in exact case (renamed by `AS alias`
        when `renames`), or else on_jvm(*args): any other argument, and
        output names Spark would see as duplicates, go to the relation."""
        m = [isinstance(a, str) and _PLAIN.fullmatch(a) for a in args]
        cols = self.table.column_names
        out = [x[2] or x[1] for x in m if x and x[1] in cols and (renames or not x[2])]
        if not args or len(out) < len(args) or len({o.lower() for o in out}) < len(out):
            return on_jvm(*args)
        table = self.table.select([x[1] for x in m]).rename_columns(out)
        return LocalFrame(self.sparkSession, table)


def local_frame(spark: SparkSession, schema: str, data=None) -> LocalFrame:
    """Driver-built rows (pandas or Arrow; empty when None) as a LocalFrame:
    its relation, when built, is one createDataFrame LocalRelation, unlike
    createDataFrame([]), whose LogicalRDD costs a job per action."""
    return LocalFrame(spark, driver_table(schema, data))


def _capped(n: int, cap: int | None) -> tuple[int, int]:
    """maxHitsToCount over n hits: (min(n, cap), is_lower_bound); (n, 0)
    uncapped."""
    return (n, 0) if cap is None else (min(n, cap), int(n > cap))


def as_frame(spark: SparkSession, out) -> DataFrame:
    """A step's result for the caller: an Arrow table becomes a LocalFrame."""
    return LocalFrame(spark, out) if isinstance(out, pa.Table) else out


def explode_positions(table: pa.Table, width: int) -> pa.Table:
    """(doc_id, positions) rows → one (doc_id, start, start + width) row per
    position, in order: the Spark path's explode, vectorized in the driver."""
    pos = table["positions"]
    start = pc.list_flatten(pos)
    return pa.table({
        "doc_id": pc.take(table["doc_id"], pc.list_parent_indices(pos)),
        "start": start.cast(pa.int32()),
        "end": pc.add(start, width).cast(pa.int32()),
    })


# ------------------------------------------------------------- kernels --
# Block kernels: posting blocks in, result rows out. The Spark UDFs and the
# driver path (Corpus._driver_blocks) call these same functions, so both
# paths return bit-identical rows.

def _member(cands: np.ndarray, d: np.ndarray) -> np.ndarray:
    """Mask of `d` values present in the sorted array `cands`."""
    idx = np.searchsorted(cands, d)
    m = idx < cands.size
    m &= np.where(m, cands[np.minimum(idx, cands.size - 1)] == d, False)
    return m


def _blocks_holding(g: pd.DataFrame, cands: np.ndarray) -> pd.DataFrame:
    """The blocks whose [first_doc_id, last_doc_id] window holds a candidate."""
    li = np.searchsorted(cands, g["first_doc_id"].to_numpy())
    keep = li < cands.size
    keep &= np.where(
        keep, cands[np.minimum(li, cands.size - 1)] <= g["last_doc_id"].to_numpy(),
        False,
    )
    return g[keep]


def decode_scores(batches, idf: float, avgdl: float, k: int | None):
    """One term's blocks (pandas batches) → (doc_id, score). With k: exact
    block-max WAND per batch — decode the fewest highest-bound blocks that
    hold k postings, take θ = the k-th best score among them and the
    running top-k, drop the blocks whose block_max_score is below θ (no
    posting of theirs can enter the top-k), decode the rest in one call and
    carry the top-k by (score desc, doc_id asc) to the next batch; it is
    yielded once, at the end (per-batch yields would duplicate docs)."""

    def scored(blocks):
        d, t, l, _ = codecs.decode_blocks(blocks)
        return d, scoring.bm25(t, l, avgdl, idf)

    top = (np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float64))
    for pdf in batches:
        if k is None:
            if len(pdf):
                d, s = scored(pdf)
                yield pd.DataFrame({"doc_id": d, "score": s})
            continue
        pdf = pdf.sort_values("block_max_score", ascending=False)
        lead = int(np.searchsorted(np.cumsum(pdf["num_docs"].to_numpy()), k)) + 1
        d, s = map(np.concatenate, zip(top, scored(pdf.iloc[:lead])))
        rest = pdf.iloc[lead:]
        if 0 < k <= s.size:
            theta = np.partition(s, s.size - k)[s.size - k]
            rest = rest[rest["block_max_score"].to_numpy() >= theta]
        if len(rest):
            d, s = map(np.concatenate, zip((d, s), scored(rest)))
        best = np.lexsort((d, -s))[:k]
        top = d[best], s[best]
    if top[0].size:
        yield pd.DataFrame({"doc_id": top[0], "score": top[1]})


def decode_position_blocks(batches):
    """Blocks (Arrow batches) → (term_id, doc_id, tf, dl, positions), one
    decode per batch. The per-doc position lists are ONE ListArray built
    from (offsets = cumsum(tf), values = vectorized varint decode) — no
    Python list objects, so stop-word phrases decode at memory speed."""
    for rb in batches:
        if rb.num_rows == 0:
            continue
        cols = rb.to_pydict()
        d, t, l, n = codecs.decode_blocks(cols)
        # positions restart per doc, so the blocks' bytes join as they are
        vals = codecs.decode_positions(b"".join(cols["positions"]), t)
        offsets = np.concatenate(([0], np.cumsum(t))).astype("int32")
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.repeat(cols["term_id"], n), pa.int64()),
                pa.array(d, pa.int64()),
                pa.array(t.astype("int32"), pa.int32()),
                pa.array(l.astype("int32"), pa.int32()),
                pa.ListArray.from_arrays(pa.array(offsets), pa.array(vals, pa.int64())),
            ],
            names=["term_id", "doc_id", "tf", "dl", "positions"],
        )


def _decode_group(g, lo, hi, idf, avgdl):
    """Decode blocks, keep docs in [lo, hi) → (doc_id, bm25)."""
    d, t, l, _ = codecs.decode_blocks(g)
    m = (d >= lo) & (d < hi)
    return d[m], scoring.bm25(t[m], l[m], avgdl, idf)


def _fold_topk(parts, key2_per_part, kk):
    """parts: [(d, contrib)]; key2_per_part: the (gid, t_ord) or t_ord sort
    key arrays aligned with parts — exact LEFT fold per doc in key order,
    then optional local top-k."""
    d = np.concatenate([p[0] for p in parts])
    c = np.concatenate([p[1] for p in parts])
    keys = [np.concatenate(col) for col in zip(*key2_per_part)]
    srt = np.lexsort(tuple(reversed(keys)) + (d,))
    d, c = d[srt], c[srt]
    ud, starts, counts = np.unique(d, return_index=True, return_counts=True)
    score = np.zeros(ud.size, dtype=np.float64)
    for j in range(int(counts.max())):
        sel = counts > j
        score[sel] += c[starts[sel] + j]
    if kk is not None and ud.size > kk:
        topk = np.lexsort((ud, -score))[:kk]
        ud, score = ud[topk], score[topk]
    return pd.DataFrame({"doc_id": ud.astype("int64"), "score": score})


def score_range_or(p: SimpleNamespace, pdf: pd.DataFrame) -> pd.DataFrame:
    """One doc range's blocks → OR scores (block-max WAND when p.prune)."""
    rng = int(pdf["rng"].iloc[0])
    lo, hi = rng * p.R, (rng + 1) * p.R
    by_term = {int(tid): g for tid, g in pdf.groupby("term_id")}
    ub = {tid: float(g["block_max_score"].max()) for tid, g in by_term.items()}
    sum_ub = sum(ub.values())
    theta = -math.inf
    parts, keys = [], []
    order = sorted(by_term, key=lambda tid: (p.df_map[tid], p.t_ord[tid]))
    for tid in order:
        g = by_term[tid]
        if p.prune and theta > -math.inf:
            slack = abs(theta) * 1e-12 + 1e-12  # fp-safety margin
            bound = g["block_max_score"].to_numpy() + (sum_ub - ub[tid])
            g = g[bound >= theta - slack]
        if len(g) == 0:
            continue
        d, contrib = _decode_group(g, lo, hi, p.idf_map[tid], p.avgdl)
        if d.size == 0:
            continue
        parts.append((d, contrib))
        keys.append((np.full(d.size, p.t_ord[tid], dtype=np.int64),))
        if p.prune:
            # θ update: k-th best accumulated partial. Order-free sums
            # are fine here — θ only gates pruning, never a reported
            # score (those are re-folded exactly below).
            ad = np.concatenate([q[0] for q in parts])
            ac = np.concatenate([q[1] for q in parts])
            udq, inv = np.unique(ad, return_inverse=True)
            if 0 < p.kk <= udq.size:
                sums = np.zeros(udq.size)
                np.add.at(sums, inv, ac)
                theta = float(np.partition(sums, udq.size - p.kk)[udq.size - p.kk])
    if not parts:
        return _EMPTY_SCORES
    return _fold_topk(parts, keys, p.kk)


def score_range_and(p: SimpleNamespace, pdf: pd.DataFrame) -> pd.DataFrame:
    """One doc range's blocks → conjunction-of-groups scores; the rarest
    group's docs are the candidates every later term's blocks must hold."""
    rng = int(pdf["rng"].iloc[0])
    lo, hi = rng * p.R, (rng + 1) * p.R
    by_term = {int(tid): g for tid, g in pdf.groupby("term_id")}
    cands = None
    decoded: dict[int, tuple] = {}
    for gi in p.group_proc_order:
        tids = [t for t in p.gid_terms[gi] if t in by_term]
        gdocs = []
        for tid in sorted(tids, key=lambda t: p.df_map[t]):
            if tid not in decoded:
                g = by_term[tid]
                if cands is not None:
                    if cands.size == 0:
                        return _EMPTY_SCORES
                    g = _blocks_holding(g, cands)
                    if len(g) == 0:
                        decoded[tid] = (
                            np.zeros(0, dtype=np.int64),
                            np.zeros(0, dtype=np.float64),
                        )
                        continue
                d, contrib = _decode_group(g, lo, hi, p.idf_map[tid], p.avgdl)
                if cands is not None and d.size:
                    mb = _member(cands, d)
                    d, contrib = d[mb], contrib[mb]
                decoded[tid] = (d, contrib)
            gdocs.append(decoded[tid][0])
        gd = (
            np.unique(np.concatenate(gdocs))
            if gdocs else np.zeros(0, dtype=np.int64)
        )
        if gd.size == 0:
            return _EMPTY_SCORES
        cands = gd if cands is None else np.intersect1d(
            cands, gd, assume_unique=True
        )
        if cands.size == 0:
            return _EMPTY_SCORES
    # score: every (group, matched-term) pair over the surviving docs
    parts, keys = [], []
    for gi, tids in enumerate(p.gid_terms):
        for tid in tids:
            d, contrib = decoded.get(
                tid, (np.zeros(0, dtype=np.int64), np.zeros(0))
            )
            if d.size == 0:
                continue
            mb = _member(cands, d)
            d, contrib = d[mb], contrib[mb]
            if d.size == 0:
                continue
            parts.append((d, contrib))
            keys.append((
                np.full(d.size, gi, dtype=np.int64),
                np.full(d.size, p.t_ord[tid], dtype=np.int64),
            ))
    if not parts:
        return _EMPTY_SCORES
    return _fold_topk(parts, keys, p.kk)


def _chain_keys(g, lo, hi, cand, off):
    """Decode a clause's blocks in one call, keep docs in [lo, hi) (and,
    given candidates, only candidate docs) → packed (doc, position - off)
    keys, plus the kept docs' (doc - lo, dl)."""
    d, t, l, _ = codecs.decode_blocks(g)
    m = (d >= lo) & (d < hi)
    if cand is not None:
        m &= _member(cand, d)
    vals = codecs.decode_positions(b"".join(g["positions"]), t)
    pm = np.repeat(m, t)
    rel = d - lo
    keys = np.repeat(rel, t)[pm] * _PC_DOC_MULT + (vals[pm] - off + _PC_POS_BIAS)
    return keys, rel[m], l[m]


def chain_range(p: SimpleNamespace, pdf: pd.DataFrame) -> pd.DataFrame:
    """One doc range's blocks → the fixed-gap run's (doc_id, positions
    [, dl]), or spans (doc_id, start, end) with a variable-gap tail:
    rarest clause first, later clauses decode only blocks holding a
    surviving candidate doc."""
    DOC_MULT, POS_BIAS = _PC_DOC_MULT, _PC_POS_BIAS
    rng = int(pdf["rng"].iloc[0])
    lo, hi = rng * p.R, (rng + 1) * p.R
    role = pdf["role"].to_numpy()
    lyrs, tids_a = pdf["lyr"].to_numpy(), pdf["term_id"].to_numpy()
    running = None
    for ci, (lyr, tids) in enumerate(p.clause_keys):
        g = pdf[(role == 0) & (lyrs == lyr) & np.isin(tids_a, tids)]
        cand = None
        if running is not None:
            cand = lo + np.unique(running // DOC_MULT)
            g = _blocks_holding(g, cand)
        keys, rel, dl = _chain_keys(g, lo, hi, cand, p.clause_offs[ci])
        if ci == 0:
            dl_pairs = rel, dl  # exact dl, from the first clause
        if keys.size == 0:
            return p.empty
        # multi-term clauses (regex expansions, synonyms) can repeat
        # a (doc, position); unique also sorts for the intersect
        keys = np.unique(keys)
        running = keys if running is None else np.intersect1d(
            running, keys, assume_unique=True
        )
        if running.size == 0:
            return p.empty
    if p.tail_tids:
        # the variable-gap tail, same decode + candidate skipping; one
        # intersect per gap value, spans out
        cand = lo + np.unique(running // DOC_MULT)
        tail = _blocks_holding(pdf[role == 1], cand)
        tail_keys = np.unique(_chain_keys(tail, lo, hi, cand, 0)[0])
        outs = []
        for s in p.shifts:
            hit = np.intersect1d(running, tail_keys - s, assume_unique=True)
            if hit.size:
                doc_rel = hit // DOC_MULT
                st = (hit - doc_rel * DOC_MULT) - POS_BIAS
                outs.append(pd.DataFrame({
                    "doc_id": (doc_rel + lo).astype("int64"),
                    "start": st.astype("int32"),
                    "end": (st + s + 1).astype("int32"),
                }))
        return pd.concat(outs, ignore_index=True) if outs else p.empty
    doc_rel = running // DOC_MULT
    start = (running - doc_rel * DOC_MULT) - POS_BIAS
    ud, idx = np.unique(doc_rel, return_index=True)
    out = {
        "doc_id": (ud + lo).astype("int64"),
        "positions": np.split(start.astype("int64"), idx[1:]),
    }
    if p.with_dl:
        dd, ll = dl_pairs
        srt = np.argsort(dd)
        out["dl"] = ll[srt][np.searchsorted(dd[srt], ud)].astype("int32")
    return pd.DataFrame(out)


def _per_range(blocks: pd.DataFrame, R: int, kernel) -> list[pd.DataFrame]:
    """The driver's run of a doc-range kernel: each block goes to every
    range its [first_doc_id, last_doc_id] overlaps — the Spark stage's
    explode(sequence(first // R, last // R)) — then the kernel runs once
    per range."""
    first = blocks["first_doc_id"].to_numpy() // R
    n = blocks["last_doc_id"].to_numpy() // R - first + 1
    step = np.arange(n.sum()) - np.repeat(np.cumsum(n) - n, n)
    blocks = blocks.iloc[np.repeat(np.arange(len(blocks)), n)]
    blocks = blocks.assign(rng=np.repeat(first, n) + step)
    return [kernel(g) for _, g in blocks.groupby("rng")]


def _top_k(scores: DataFrame, k: int) -> DataFrame:
    """Top-k by (score desc, doc_id asc). A driver-path frame is already in
    that order, so it takes only its own limit(k) (no Spark job)."""
    if isinstance(scores, LocalFrame):
        return scores.limit(k)
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


@dataclass
class HitsPage:
    """One serving request's results (Corpus.hits_page): the windowed hits,
    optional groups over the processed hits, and the paired-cap summary row
    (n_processed, processed_is_estimate, n_counted, count_is_lower_bound)."""

    hits: DataFrame
    groups: DataFrame | None
    summary: DataFrame


class Corpus:
    def __init__(self, spark: SparkSession, path: str):
        from blacklab_spark.incremental import recover_pending

        recover_pending(path)  # resolve any torn add_to_index before reading
        self.spark = spark
        self.paths = IndexPaths(path)
        with open(self.paths.meta) as f:
            self.meta = json.load(f)
        self.n_docs: int = self.meta["n_docs"]
        self.avgdl: float = self.meta["avgdl"]
        # fold-convention gate (ADVICE r5): query-side pattern folding must
        # match the convention baked into the stored i/di layers, or
        # insensitive searches silently miss (stored 'ß' vs query 'ss')
        from blacklab_spark.tokenizer import FOLD_VERSION

        stamped = self.meta.get("fold_version")
        if stamped != FOLD_VERSION:
            import warnings

            warnings.warn(
                f"index at {path} was built with fold_version="
                f"{stamped if stamped is not None else 'unstamped (pre-r6)'} "
                f"but this engine folds with version {FOLD_VERSION}; "
                "insensitive (i/di layer) searches may silently miss terms "
                "containing re-folded characters — rebuild the index",
                stacklevel=2,
            )

    # ------------------------------------------------------------ tables --
    # r7: every table handle is resolved ONCE per Corpus (spark.read.parquet
    # lists the directory and reads a footer for schema on EVERY call — a
    # driver-side cost paid per query before this). A Corpus is a
    # point-in-time snapshot like an open Lucene IndexReader (appends open a
    # fresh Corpus — see preload), so reusing the relation is semantics-
    # preserving, and Spark's shared FileStatusCache keeps listings fresh
    # per-path anyway.
    @property
    def docs(self) -> DataFrame:
        cached = getattr(self, "_docs_df", None)
        if cached is None:
            cached = self._docs_df = self.spark.read.parquet(self.paths.docs)
            # grouping's driver paths read its rows; a derived frame cannot
            cached.driver_rows = partial(self._driver_read, "docs")
        return cached

    @property
    def term_dict(self) -> DataFrame:
        cached = getattr(self, "_term_dict_df", None)
        if cached is None:
            cached = self._term_dict_df = self.spark.read.parquet(
                self.paths.term_dict
            )
        return cached

    @property
    def postings(self) -> DataFrame:
        cached = getattr(self, "_postings_df", None)
        if cached is None:
            cached = self._postings_df = self.spark.read.parquet(
                self.paths.postings
            )
        return cached

    def preload(self, pin_docs: bool | str = "auto") -> "Corpus":
        """Serving mode — the analog of BlackLab holding an open IndexReader:

        * term dictionary cached driver-side (lookup_terms / expand_pattern);
        * docs table (forward index) pinned in executor memory — its
          consumers are JVM joins/slices (KWIC, collocations, constraints
          over Spark-path hits), which read the columnar cache efficiently;
        * postings warmed through once so the OS page cache holds the bytes,
          but deliberately NOT .persist()ed: the decode paths consume the
          postings via mapInArrow/mapInPandas, and a cached in-memory
          relation must be re-converted row-wise to Arrow, which measured
          SLOWER at 2M turns (phrase 5.3s → 7.7s) than the vectorized
          parquet reader streaming off the page cache.

        Like a Lucene reader this is a point-in-time snapshot: appends after
        preload are not visible until a fresh Corpus is opened."""
        if getattr(self, "_preloaded", False):
            return self
        from pyspark import StorageLevel

        self.lookup_terms([])  # populate the driver-side term-dict cache
        # and the driver path's file snapshots (a persisted docs relation
        # lists no input files, so before the pin below)
        self._footers("postings"), self._footers("docs")
        # Page-cache warm must READ the data pages: a bare count() is served
        # from parquet row-group metadata with an empty read schema and never
        # touches the postings bytes. Summing the binary column lengths
        # forces a full decode of every page exactly once.
        self.postings.select(
            F.sum(
                F.length("doc_gaps") + F.length("tfs") + F.length("dls")
                + F.length("positions")
            )
        ).collect()
        if pin_docs == "auto":
            # pin only when the decoded docs table fits comfortably: under
            # memory pressure the persisted docs cache competes with the
            # postings page cache and DEGRADES span-heavy serving (measured
            # at 1.2M turns, BENCH/BASELINE.md r3 caveat — previously a
            # manual pin_docs=False). On-disk parquet expands roughly 3x
            # as an in-memory columnar cache; cap at 25% of the JVM heap.
            docs_bytes = sum(
                os.path.getsize(os.path.join(self.paths.docs, nm))
                for nm in os.listdir(self.paths.docs)
                if nm.startswith("part-")
            )
            pin_docs = docs_bytes * 3 < self._executor_storage_bytes() * 0.25
        if pin_docs:
            # pays off for KWIC/collocation/constraint consumers (JVM joins
            # over the forward index); span-heavy serving at large corpora
            # skips it via the auto guard above
            self.docs.persist(StorageLevel.MEMORY_AND_DISK).count()
        self._preloaded = True
        return self

    def _executor_storage_bytes(self) -> int:
        """Total EXECUTOR storage-memory capacity — the heap a .persist()ed
        DataFrame actually lives in. On a cluster the driver's own heap says
        nothing about executor storage (ADVICE r4), so sum maxMem across the
        block managers; fall back to the local JVM heap (== executor heap in
        local mode) if the internal API moves."""
        try:
            ems = self.spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
            it = ems.toList().iterator()
            total = 0
            while it.hasNext():
                total += int(it.next()._2()._1())
            if total > 0:
                return total
        except Exception:
            pass
        return int(
            self.spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
            .maxMemory()
        )

    def doc_lengths(self) -> DataFrame:
        return self.docs.select("doc_id", "dl")

    def doc_map(self) -> DataFrame:
        cols = self.meta.get("doc_key", ["conv_id", "turn_idx"])
        return self.docs.select(*cols, "doc_id")

    # ------------------------------------------------------------- lookup --
    # driver-side term-dict cache bound: ~500k terms ≈ tens of MB of driver
    # heap (VERDICT r1 flagged 2M as ~100s of MB); larger vocabularies fall
    # back to a pushed-down parquet scan per lookup
    _TD_CACHE_MAX = 500_000

    def lookup_terms(self, terms: list[str]) -> pd.DataFrame:
        """Term dictionary seek. For small vocabularies the dictionary is
        cached driver-side once (BlackLab similarly keeps Terms in memory,
        /root/reference/engine/src/main/java/nl/inl/blacklab/forwardindex/Terms.java);
        for huge vocabularies we fall back to a pushed-down parquet scan."""
        uniq = sorted(set(terms))
        cache = getattr(self, "_td_cache", None)
        if cache is None and not getattr(self, "_td_too_big", False):
            n = self.meta.get("n_terms")
            if n is None:
                n = self.term_dict.count()
                self.meta["n_terms"] = n
            if n <= self._TD_CACHE_MAX:
                cache = (
                    self.term_dict.select("term", "term_id", "df", "cf")
                    .toPandas()
                    .set_index("term", drop=False)
                )
                self._td_cache = cache
            else:
                self._td_too_big = True
        if cache is not None:
            hit = [t for t in uniq if t in cache.index]
            return (
                cache.loc[hit].sort_values("term_id").reset_index(drop=True)
            )
        rows = (
            self.term_dict.filter(F.col("term").isin(uniq))
            .select("term", "term_id", "df", "cf")
            .toPandas()
        )
        return rows.sort_values("term_id").reset_index(drop=True)

    def expand_pattern(self, regex: str, max_terms: int = 1024) -> list[str]:
        """Regex → concrete terms via the term dictionary (the reference's
        TextPatternRegex/BLSpanMultiTermQueryWrapper rewrite, SURVEY.md §2.2).

        Anchored like Lucene RegexpQuery: the pattern must match the ENTIRE
        term (rlike alone is substring search — /cat/ would hit 'concatenate').

        Served from the driver-side term-dict cache when it fits (a
        vectorized fullmatch over the vocabulary — no Spark job per regex
        atom, mirroring Lucene's in-memory TermsEnum walk); huge
        vocabularies fall back to a distributed term_dict scan.

        The two paths use different regex engines (Python re vs Java
        java.util.regex via rlike). Java's \\w/\\d/\\b and (?i) are
        ASCII-biased by default while Python's are Unicode — so the fallback
        enables UNICODE_CHARACTER_CLASS with an inline (?U) (which implies
        UNICODE_CASE), aligning both engines on accented vocabularies;
        cached==fallback agreement is pinned in test_sensitivity.py."""
        self.lookup_terms([])  # ensure the cache decision has been made
        cache = getattr(self, "_td_cache", None)
        if cache is not None:
            hit = cache.index[cache["term"].str.fullmatch(regex, na=False)]
            return sorted(hit[:max_terms])
        rows = (
            self.term_dict.filter(F.col("term").rlike("(?U)^(?:" + regex + ")$"))
            .select("term").limit(max_terms).collect()
        )
        return sorted(r["term"] for r in rows)

    # --------------------------------------------------------- driver path --
    # The most postings a query may read and still run in the driver: the
    # 4-client crossover of BENCH/DRIVER_PATH_CROSSOVER.md's per-kind table.
    # With 1 client the driver wins up to ~500k postings; with 4 clients
    # sharing the driver's GIL, phrase and chain requests break even at
    # ~65-115k and lose above, while every kind at ≤ 64k is 1.3-8x faster
    # in the driver.
    _DRIVER_MAX_POSTINGS = 1 << 16

    def _driver_blocks(self, tids, cols: list[str], df: int) -> pa.Table | None:
        """The driver path's read: the blocks of `tids` through pyarrow, or
        None when the query belongs on Spark. The driver takes a query only
        when `df`, the summed plan-time df of every term whose blocks the
        query reads, is ≤ _DRIVER_MAX_POSTINGS (an upper bound on the work:
        AND and chain kernels skip blocks but never read more) AND the row
        groups it must read fit in one Spark task's split
        (spark.sql.files.maxPartitionBytes), so it never gives up scan
        parallelism Spark would use."""
        if df > self._DRIVER_MAX_POSTINGS:
            return None
        return self._driver_read("postings", tids, cols)

    def _driver_read(self, table: str, keys, cols: list[str]) -> pa.Table | None:
        """The rows of `table` ("postings" or "docs") whose key (term_id,
        doc_id) is in `keys`, read through pyarrow; None when the row groups
        holding them exceed one Spark task's split."""
        dataset, lo, hi, nbytes = self._footers(table)
        if dataset is None:
            return None
        t = np.unique(np.asarray(keys, dtype=np.int64))
        hit = np.searchsorted(t, lo) < np.searchsorted(t, hi, side="right")
        conf = self.spark._jsparkSession.sessionState().conf()
        if int(nbytes[hit].sum()) > conf.filesMaxPartitionBytes():
            return None
        import pyarrow.dataset as ds

        return dataset.to_table(columns=cols, filter=ds.field(_KEYS[table]).isin(t))

    def _footers(self, table: str) -> tuple:
        """(pyarrow dataset, then per row group: key min, max, compressed
        bytes) over the files getattr(self, table) resolved — read once per
        Corpus from the parquet footers, so both paths read the same
        snapshot. Dataset None (Spark path only) off the local filesystem."""
        cache = self.__dict__.setdefault("_footer_cache", {})
        cached = cache.get(table)
        if cached is None:
            import pyarrow.dataset as ds
            import pyarrow.parquet as pq

            urls = [urlparse(u) for u in getattr(self, table).inputFiles()]
            cached = (None, None, None, None)
            if urls and all(u.scheme in ("", "file") for u in urls):
                groups = []
                for u in urls:
                    md = pq.read_metadata(u.path)
                    col = md.schema.names.index(_KEYS[table])
                    for rg in map(md.row_group, range(md.num_row_groups)):
                        st = rg.column(col).statistics
                        ok = st is not None and st.has_min_max
                        groups.append((
                            st.min if ok else -(2**63), st.max if ok else 2**63 - 1,
                            sum(rg.column(j).total_compressed_size
                                for j in range(rg.num_columns)),
                        ))
                lo, hi, nbytes = np.array(groups, dtype=np.int64).reshape(-1, 3).T
                dataset = ds.dataset([u.path for u in urls], format="parquet")
                cached = (dataset, lo, hi, nbytes)
            cache[table] = cached
        return cached

    def _scored_local(self, scores: pd.DataFrame, k: int | None = None) -> DataFrame:
        """Driver-path scores as a LocalFrame in top-k order (score desc,
        doc_id asc), cut at k."""
        scores = scores.sort_values(["score", "doc_id"], ascending=[False, True])
        return local_frame(self.spark, _SCORES, scores.iloc[:k])

    # ------------------------------------------------------------- decode --
    def _decoded_scores(self, tinfo: pd.DataFrame, k_hint: int | None = None) -> DataFrame:
        """One term's postings → (doc_id, score) through decode_scores;
        with k_hint, block-max WAND (partition-local on Spark)."""
        tid, df = int(tinfo["term_id"].iloc[0]), int(tinfo["df"].iloc[0])
        # block-max bounds are stale after an incremental append (df/avgdl
        # moved) — prune only when the index is compacted (bounds fresh)
        k = None if self.meta.get("bounds_stale", False) else k_hint
        kernel = partial(
            decode_scores, idf=scoring.idf(self.n_docs, df), avgdl=self.avgdl, k=k
        )
        cols = ["first_doc_id", "num_docs", "doc_gaps", "tfs", "dls",
                "block_max_score"]
        local = self._driver_blocks([tid], cols, df)
        if local is not None:
            return self._scored_local(
                pd.concat([_EMPTY_SCORES, *kernel([local.to_pandas()])])
            )
        blocks = self.postings.filter(F.col("term_id") == tid).select(*cols)
        return blocks.mapInPandas(kernel, schema=_SCORES)

    def _decoded_positions(self, tinfo: pd.DataFrame) -> pa.Table | DataFrame:
        """postings → (term_id, doc_id, tf, dl, positions) through
        decode_position_blocks: an Arrow table on the driver path."""
        if tinfo.empty:
            return driver_table(_DECODED_POS_SCHEMA)
        term_ids = [int(t) for t in tinfo["term_id"]]
        cols = ["term_id", "first_doc_id", "doc_gaps", "tfs", "dls", "positions"]
        local = self._driver_blocks(term_ids, cols, int(tinfo["df"].sum()))
        if local is not None:
            out = list(decode_position_blocks(local.to_batches()))
            return driver_table(
                _DECODED_POS_SCHEMA, pa.Table.from_batches(out) if out else None
            )
        blocks = self.postings.filter(F.col("term_id").isin(term_ids)).select(*cols)
        return blocks.mapInArrow(decode_position_blocks, schema=_DECODED_POS_SCHEMA)

    # ----------------------------------------------------- postings leaves --
    def term_positions(self, term: str) -> DataFrame:
        """(doc_id, tf, positions array<long>) for one term from the
        positional postings (positions ascending per doc)."""
        pos = self._decoded_positions(self.lookup_terms([term]))
        if isinstance(pos, pa.Table):
            return local_frame(self.spark, "doc_id long, tf int, positions array<long>", pos)
        return pos.select("doc_id", "tf", "positions")

    def spans_term(self, term: str) -> DataFrame:
        """Postings-backed BLSpanTermQuery leaf: every occurrence of `term`
        as a length-1 span (doc_id, start, end), decoded straight from the
        positional postings. Feed this to blacklab_spark.operators.spans —
        the span algebra then runs off the index instead of a full-corpus
        posexplode (VERDICT r1 'Missing #2')."""
        return self.spans_terms([term])

    def spans_terms(self, terms: list[str]) -> DataFrame:
        """Union of length-1 spans for several terms from ONE postings scan —
        the BLSpanMultiTermQueryWrapper expansion leaf (one regex/wildcard
        atom expands to many terms; they share a single decode pass).

        Driver-path positions explode in the driver into a LocalFrame. On
        Spark the EXACT output size is known at plan time — sum of the
        terms' collection frequencies — so when it fits the broadcast cap
        the result carries a broadcast hint. Downstream hit→docs joins
        (collocations, KWIC, context ops) then broadcast the hits side
        without the runtime size probe (guide §3.1: the optimizer cannot
        size a Python-decoded side; we can)."""
        tinfo = self.lookup_terms(terms)
        pos = self._decoded_positions(tinfo)
        if isinstance(pos, pa.Table):
            return local_frame(self.spark, _SPANS, explode_positions(pos, 1))
        out = (
            pos.select("doc_id", F.explode("positions").alias("p"))
            .select(
                "doc_id",
                F.col("p").cast("int").alias("start"),
                (F.col("p") + 1).cast("int").alias("end"),
            )
        )
        from blacklab_spark.operators.grouping import _BROADCAST_HITS_CAP

        if 0 < int(tinfo["cf"].sum()) <= _BROADCAST_HITS_CAP:
            out = out.hint("broadcast")
        return out

    def positions_chain(
        self,
        clauses: list[tuple],
        with_dl: bool = False,
        vargap_tail: tuple | None = None,
    ) -> DataFrame:
        """Fixed-gap sequence run [(terms, offset[, layer_corpus])] →
        (doc_id, positions) in run-start coordinates — the array-domain
        chain WITHOUT the per-clause join: ONE doc-range shuffle of the
        clauses' COMPRESSED posting blocks, then a partition-local numpy
        decode + sorted-key intersect, rarest clause first. Later clauses
        skip whole blocks whose [first_doc_id, last_doc_id] window holds no
        surviving candidate doc (the score_range_and discipline applied to
        positions), so a stop-word clause anchored by a rare clause decodes
        almost nothing. Against a per-clause join of decoded position
        arrays, the shuffle moves varint bytes instead of int64 arrays and no
        hash join runs. It is the engine's one sequence evaluator. Reference
        analog: SpansSequence over per-segment postings
        (SpanQuerySequence.java) with ClauseCombinerNfa's rarest-first
        ordering.

        A clause may name another LAYER's Corpus as its third element
        (r5, VERDICT #7): annotation layers share the docID space and token
        positions by construction (annotated.build_annotated_index), so a
        cross-layer chain like [lemma="x"] [pos="y"] co-locates each layer's
        blocks in the same doc-range partition — blocks are keyed by
        (layer, term_id) and the intersect is unchanged.

        `vargap_tail=(terms, width, gap_min, gap_max[, layer_corpus])`
        appends a VARIABLE-finite-gap clause inside the SAME kernel pass —
        one extra intersect per gap value — and switches the output to spans
        (doc_id, start, end): the `run []{m,n} clause` shape without ever
        materializing the prefix outside the partition.

        Engine steps call _positions_chain: an Arrow table on the driver path."""
        return as_frame(self.spark, self._positions_chain(clauses, with_dl, vargap_tail))

    def _positions_chain(
        self, clauses: list[tuple], with_dl: bool, vargap_tail: tuple | None
    ) -> pa.Table | DataFrame:
        out_schema = _SPANS if vargap_tail is not None else (
            "doc_id long, positions array<long>" + (", dl int" if with_dl else "")
        )
        layers: list[Corpus] = [self]

        def _layer_idx(c: "Corpus" | None) -> int:
            c = c or self
            for i, x in enumerate(layers):
                if x is c:
                    return i
            if c.n_docs != self.n_docs:
                raise ValueError(
                    "positions_chain layers must share the docID space "
                    f"(n_docs {c.n_docs} != {self.n_docs})"
                )
            layers.append(c)
            return len(layers) - 1

        infos = []
        tids_by_layer: dict[int, set[int]] = {}
        dfs: dict[tuple[int, int], int] = {}  # (layer, term_id) -> df
        for cl in clauses:
            terms, off = cl[0], cl[1]
            lyr = _layer_idx(cl[2] if len(cl) > 2 else None)
            ti = layers[lyr].lookup_terms(terms)
            tids = [int(t) for t in ti["term_id"]]
            if not tids:  # a vocab-miss clause empties the whole chain
                return driver_table(out_schema)
            infos.append((int(ti["df"].sum()), lyr, tids, int(off)))
            tids_by_layer.setdefault(lyr, set()).update(tids)
            dfs.update(((lyr, t), int(d)) for t, d in zip(tids, ti["df"]))
        infos.sort(key=lambda t: (t[0], t[3]))
        tail_tids: list[int] = []
        tail_lyr = 0
        shifts: list[int] = []
        if vargap_tail is not None:
            t_terms, t_width, t_gmin, t_gmax = vargap_tail[:4]
            tail_lyr = _layer_idx(
                vargap_tail[4] if len(vargap_tail) > 4 else None
            )
            tti = layers[tail_lyr].lookup_terms(t_terms)
            tail_tids = [int(t) for t in tti["term_id"]]
            if not tail_tids:
                return driver_table(out_schema)
            dfs.update(((tail_lyr, t), int(d)) for t, d in zip(tail_tids, tti["df"]))
            shifts = [t_width + g for g in range(t_gmin, t_gmax + 1)]
        n_ranges = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        R = max(1, -(-self.n_docs // n_ranges))
        if R >= int(_PC_DOC_MULT >> 3):
            raise ValueError(
                "positions_chain: docs-per-range too large for key packing; "
                "raise spark.sql.shuffle.partitions"
            )
        empty = driver_table(out_schema).to_pandas()
        # plain data only: the kernel must not capture vargap_tail (it may
        # hold a Corpus → SparkContext)
        p = SimpleNamespace(
            R=R, clause_keys=[(lyr, tids) for _, lyr, tids, _ in infos],
            clause_offs=[off for _, _, _, off in infos], with_dl=with_dl,
            tail_tids=tail_tids, shifts=shifts, empty=empty,
        )

        def kernel(pdf):  # not a partial: applyInPandas warns on those
            return chain_range(p, pdf)

        # a term can serve both a prefix clause AND the tail — its blocks
        # are read once per role
        reads = [(0, lyr, sorted(tids)) for lyr, tids in sorted(tids_by_layer.items())]
        if tail_tids:
            reads.append((1, tail_lyr, tail_tids))
        cols = ["term_id", "first_doc_id", "last_doc_id", "doc_gaps", "tfs", "dls",
                "positions"]
        read_df = sum(dfs[lyr, t] for _, lyr, tids in reads for t in tids)
        local = [
            layers[lyr]._driver_blocks(tids, cols, read_df)
            for _, lyr, tids in reads
        ]
        if all(t is not None for t in local):
            blocks = pd.concat([
                t.to_pandas().assign(role=role, lyr=lyr)
                for t, (role, lyr, _) in zip(local, reads)
            ], ignore_index=True)
            parts = _per_range(blocks, R, kernel)
            return driver_table(out_schema, pd.concat([empty, *parts]))

        def _blocks(role, lyr, tids):
            return layers[lyr].postings.filter(F.col("term_id").isin(tids)).select(
                *cols,
                F.explode(
                    F.sequence(
                        F.floor(F.col("first_doc_id") / F.lit(R)),
                        F.floor(F.col("last_doc_id") / F.lit(R)),
                    )
                ).alias("rng"),
                F.lit(role).alias("role"),
                F.lit(lyr).alias("lyr"),
            )

        blocks = _blocks(*reads[0])
        for r in reads[1:]:
            blocks = blocks.unionByName(_blocks(*r))
        # r7 (guide §2.5 "stragglers"/AQE interaction): the compressed-block
        # shuffle is tiny (a few MB), so AQE's partition coalescing merged
        # the n_ranges reduce partitions down to 1-5 tasks and the Python
        # decode+intersect kernel ran nearly SERIAL. An explicit repartition
        # on the range key is user-specified partitioning AQE never
        # coalesces; groupBy("rng") reuses it (no extra exchange), keeping
        # one kernel task per doc range.
        return (
            blocks.repartition(n_ranges, "rng")
            .groupBy("rng").applyInPandas(kernel, schema=out_schema)
        )

    # -------------------------------------------------------------- query --
    def score_or(self, terms: list[str], k: int | None = None) -> DataFrame:
        """Multi-term OR (BooleanQuery SHOULD): per-doc sum of BM25 in
        ascending-term order. Returns all matching docs: (doc_id, score)."""
        return self._cached(
            ("score_or", tuple(sorted(set(terms))), k),
            lambda: self._score_or(terms, k),
        )

    def _score_or(self, terms: list[str], k: int | None = None) -> DataFrame:
        tinfo = self.lookup_terms(terms)
        if tinfo.empty:
            return local_frame(self.spark, _SCORES)
        if len(tinfo) == 1:
            return self._decoded_scores(tinfo, k_hint=k)
        return self._range_scores(tinfo, k, conjunctive=False)

    def search_or(self, terms: list[str], k: int = 10) -> DataFrame:
        return _top_k(self.score_or(terms, k=k), k)

    def _range_scores(
        self,
        tinfo: pd.DataFrame,
        k: int | None,
        conjunctive: bool,
        groups: list[list[str]] | None = None,
    ) -> DataFrame:
        """Doc-range-partitioned scorer — the shared physical strategy for
        multi-term OR (with block-max WAND when k is given), AND, and
        conjunctions of OR-groups (BooleanQuery MUST clauses that are
        multi-term expansions).

        The query terms' posting blocks are re-keyed by docID RANGE so every
        doc's FULL score is computable inside one partition (a block that
        straddles a range boundary is replicated to both ranges and its
        decoded docs filtered to the range). Per partition, terms are visited
        rarest-first (ClauseCombinerNfa's cost ordering, /root/reference/
        engine/src/main/java/nl/inl/blacklab/search/lucene/optimize/
        ClauseCombinerNfa.java:144-201):

        * OR + k: block-max WAND. A growing threshold θ — the k-th best
          accumulated partial score, a lower bound of the k-th final score —
          prunes any block whose block_max_score plus the sum of the OTHER
          terms' range-local maxima cannot reach θ. No doc in such a block
          can reach the final top-k, so skipping never corrupts a reported
          score.
        * OR, no k: same partition-local numpy fold, no pruning, all rows.
        * conjunctive (groups; plain AND = singleton groups): groups are
          processed in ascending total-df order; the first group's decoded
          docs form the candidate set, every later term searchsorted-skips
          blocks whose [first_doc_id, last_doc_id] window holds no candidate
          — a stop-word MUST clause decodes only blocks overlapping the rare
          clause's docs. Score sums every (group, matched-term) contribution.

        Emitted scores are exact float64 left-folds in (group, term-string)
        order, bitwise equal to the oracle. Scale shape: ONE shuffle of the
        queried terms' blocks keyed on doc range, partition-local numpy
        scoring, then either a TakeOrderedAndProject over (n_ranges × k) rows
        (k given) or a plain union of per-range results.
        """
        term_ids = [int(t) for t in tinfo["term_id"]]
        df_map = {int(r.term_id): int(r.df) for r in tinfo.itertuples()}
        tid_by_term = {r.term: int(r.term_id) for r in tinfo.itertuples()}
        p = SimpleNamespace(
            df_map=df_map,
            idf_map={t: scoring.idf(self.n_docs, df) for t, df in df_map.items()},
            # fold order = ascending term string (float64 parity contract)
            t_ord={
                int(r.term_id): i
                for i, r in enumerate(tinfo.sort_values("term").itertuples())
            },
            avgdl=self.avgdl,
            kk=int(k) if k is not None else None,
            # stale bounds after an append: block_max_score is no longer an
            # upper bound, so WAND pruning is off (scores stay exact regardless)
            prune=(
                k is not None and not conjunctive
                and not self.meta.get("bounds_stale", False)
            ),
        )
        if conjunctive:
            if groups is None:
                groups = [[t] for t in sorted(tinfo["term"])]
            p.gid_terms = [
                sorted({tid_by_term[t] for t in g if t in tid_by_term})
                for g in groups
            ]
            # rarest group first builds the candidate set fastest
            g_df = [sum(df_map[t] for t in g) for g in p.gid_terms]
            p.group_proc_order = sorted(range(len(g_df)), key=g_df.__getitem__)
        n_ranges = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        p.R = R = max(1, -(-self.n_docs // n_ranges))
        fn = score_range_and if conjunctive else score_range_or

        def kernel(pdf):  # not a partial: applyInPandas warns on those
            return fn(p, pdf)

        cols = ["term_id", "first_doc_id", "last_doc_id", "doc_gaps", "tfs", "dls",
                "block_max_score"]
        local = self._driver_blocks(term_ids, cols, sum(df_map.values()))
        if local is not None:
            parts = _per_range(local.to_pandas(), R, kernel)
            return self._scored_local(pd.concat([_EMPTY_SCORES, *parts]), p.kk)

        blocks = self.postings.filter(F.col("term_id").isin(term_ids)).select(
            *cols,
            F.explode(
                F.sequence(
                    F.floor(F.col("first_doc_id") / F.lit(R)),
                    F.floor(F.col("last_doc_id") / F.lit(R)),
                )
            ).alias("rng"),
        )
        # explicit range repartition: see positions_chain — stops AQE from
        # coalescing the tiny block shuffle into a near-serial Python stage
        scored = blocks.repartition(n_ranges, "rng").groupBy("rng").applyInPandas(
            kernel, schema=_SCORES
        )
        return scored if p.kk is None else _top_k(scored, p.kk)

    def score_and(self, terms: list[str], k: int | None = None) -> DataFrame:
        """Conjunctive BooleanQuery (all MUST clauses): only docs containing
        EVERY query term, scored as the same per-term BM25 sum. Token-level
        AND-semantics analog of SpanQueryAnd at the doc level.

        Physical strategy: _range_scores(conjunctive=True) — the rarest term
        drives; a stop-word MUST clause decodes only blocks overlapping the
        rare term's docs (the FiSeq anchor-then-verify insight at doc level)."""
        return self._cached(
            ("score_and", tuple(sorted(set(terms))), k),
            lambda: self._score_and(terms, k),
        )

    def _score_and(self, terms: list[str], k: int | None = None) -> DataFrame:
        uniq = sorted(set(terms))
        tinfo = self.lookup_terms(uniq)
        if len(tinfo) < len(uniq):  # a missing term empties the conjunction
            return local_frame(self.spark, _SCORES)
        if len(tinfo) == 1:
            return self._decoded_scores(tinfo, k_hint=k)
        return self._range_scores(tinfo, k, conjunctive=True)

    def score_and_groups(
        self, groups: list[list[str]], k: int | None = None
    ) -> DataFrame:
        """Conjunction of OR-groups — a BooleanQuery whose MUST clauses may be
        multi-term expansions (wildcard/regex atoms). A doc must match ≥1 term
        of EVERY group; the score sums the BM25 of every (group, matched-term)
        pair, so a term shared by two clauses contributes once per clause —
        Lucene's per-clause scoring. Runs on the doc-range scorer: the rarest
        clause's docs drive candidate pruning of every other clause's blocks."""
        return self._cached(
            ("score_and_groups", tuple(tuple(sorted(set(g))) for g in groups), k),
            lambda: self._score_and_groups(groups, k),
        )

    def _score_and_groups(
        self, groups: list[list[str]], k: int | None = None
    ) -> DataFrame:
        if not groups:
            return local_frame(self.spark, _SCORES)
        flat = sorted({t for g in groups for t in g})
        tinfo = self.lookup_terms(flat)
        present = set(tinfo["term"])
        resolved = [sorted(set(g) & present) for g in groups]
        if any(not g for g in resolved):  # an empty clause empties the AND
            return local_frame(self.spark, _SCORES)
        if all(len(g) == 1 for g in resolved):
            seen = {g[0] for g in resolved}
            if len(seen) == len(resolved):  # plain term conjunction
                return self.score_and(sorted(seen), k=k)
        used = sorted({t for g in resolved for t in g})
        return self._range_scores(
            tinfo[tinfo["term"].isin(used)], k, conjunctive=True, groups=resolved
        )

    def search_and(self, terms: list[str], k: int = 10) -> DataFrame:
        return _top_k(self.score_and(terms, k=k), k)

    def score_phrase(self, terms: list[str]) -> DataFrame:
        """Exact adjacent phrase (SpansSequence analog, /root/reference/engine/
        src/main/java/nl/inl/blacklab/search/lucene/SpanQuerySequence.java):
        per-doc intersection of slot-shifted position lists in
        positions_chain, RAREST TERM FIRST (the ClauseCombinerNfa
        cost-ordering insight: the smallest posting list drives every
        subsequent intersect).
        Scoring: Lucene PhraseQuery — idf = sum of member idfs (duplicates
        kept), tf = phrase frequency, same BM25 saturation, exact dl."""
        return self._cached(
            ("score_phrase", tuple(terms)),
            lambda: self._score_phrase(terms),
        )

    def _score_phrase(self, terms: list[str]) -> DataFrame:
        tinfo = self.lookup_terms(terms)
        if not terms or not set(terms) <= set(tinfo["term"]):
            return local_frame(self.spark, _SCORES)
        info_by_term = {r.term: r for r in tinfo.itertuples()}
        idf_sum = np.float64(0.0)
        for t in terms:  # phrase idf: duplicates kept, phrase order
            idf_sum += np.float64(scoring.idf(self.n_docs, int(info_by_term[t].df)))
        idf_sum = float(idf_sum)
        avgdl = self.avgdl

        # r4: the doc-range co-located chain kernel — one shuffle of the
        # phrase terms' compressed blocks, partition-local rarest-first
        # intersect with candidate block skipping; replaces the per-slot
        # array_intersect JOINs (which shuffled decoded position arrays)
        chain = self._positions_chain([([t], i) for i, t in enumerate(terms)], True, None)
        if isinstance(chain, pa.Table):  # driver path: the same BM25 in numpy
            tf = pc.list_value_length(chain["positions"]).to_numpy()
            score = scoring.bm25(tf, chain["dl"].to_numpy(), avgdl, idf_sum)
            return self._scored_local(pd.DataFrame({
                "doc_id": chain["doc_id"].to_numpy(), "score": score,
            }))
        ptf = chain.select("doc_id", "dl", F.size("positions").alias("tf"))
        # closed-form BM25 expression, op-ordered to match scoring.bm25 bitwise
        norm = F.lit(scoring.K1) * (
            F.lit(1.0 - scoring.B)
            + F.lit(scoring.B) * F.col("dl").cast("double") / F.lit(avgdl)
        )
        score = (
            F.lit(idf_sum) * F.col("tf").cast("double")
            / (F.col("tf").cast("double") + norm)
        )
        return ptf.select("doc_id", score.alias("score"))

    def search_phrase(self, terms: list[str], k: int = 10) -> DataFrame:
        return _top_k(self.score_phrase(terms), k)

    def enable_search_cache(self, max_entries: int = 64) -> "Corpus":
        """Turn on the plan-keyed result cache (the SearchCache analog,
        /root/reference/engine/src/main/java/nl/inl/blacklab/searches/
        SearchCache.java; doc/technical/blacklab-internals.md:154-184).

        Repeated identical queries — the BLS serving workload — get the
        persisted result back instead of replanning + rescanning. Keys are
        the NORMALIZED plan (rewrite-fixpoint AST repr), so syntactic
        variants of one plan share an entry; the key also pins the index
        version (n_docs, n_segments), so results never leak across appends
        (a fresh Corpus sees a fresh version). LRU-bounded; evicted entries
        are unpersisted. Like preload(), cached results are a point-in-time
        snapshot."""
        from blacklab_spark.plans.cql import PlanCache

        if getattr(self, "_search_cache", None) is None:
            self._search_cache = PlanCache(max_entries)
        return self

    def _index_version(self) -> tuple:
        return (self.meta["n_docs"], self.meta.get("n_segments", 1))

    def _cached(self, subkey: tuple, build):
        """Route a scoring-path plan through the SearchCache when enabled —
        the reference caches EVERY Search subclass result (SearchCache.java
        keys on the whole Search tree, not just pattern finds), so the BM25
        search/score paths are keyed on (kind, terms, k) here."""
        cache = getattr(self, "_search_cache", None)
        if cache is None:
            return build()
        return cache.get_or_build_key(
            self.paths.root, self._index_version(), subkey, build
        )

    def find_cql(self, query: str) -> DataFrame:
        """BCQL subset → span DataFrame (doc_id, start, end [, captures]);
        see blacklab_spark.plans.cql for the supported grammar."""
        from blacklab_spark.plans.cql import find_cql

        cache = getattr(self, "_search_cache", None)
        if cache is None:
            return find_cql(self, query)
        return cache.get_or_build(
            self.paths.root, self._index_version(), query,
            lambda: find_cql(self, query),
        )

    def count_hits(self, query: str, max_count: int | None = None) -> DataFrame:
        """Hit count for a BCQL query with the reference's maxHitsToCount
        contract (SearchSettings.java): capped counts stop early and report
        (min(n, cap), is_lower_bound) — the "≥N" a serving UI shows for
        expensive queries. Uncapped = exact count, flag 0."""
        from blacklab_spark.operators.grouping import capped_count

        hits_df = self.find_cql(query)
        if isinstance(hits_df, LocalFrame):
            return local_frame(self.spark, "n_hits long, is_lower_bound int", pd.DataFrame(
                [_capped(hits_df.count(), max_count)], columns=["n_hits", "is_lower_bound"]))
        if max_count is None:
            return hits_df.agg(
                F.count("*").alias("n_hits"),
                F.lit(0).alias("is_lower_bound"),
            )
        return capped_count(hits_df, max_count)

    def hits_page(
        self,
        query: str,
        *,
        sort: list | None = None,
        group_by: str | None = None,
        first: int = 0,
        number: int = 20,
        context: int | None = None,
        max_process: int | None = None,
        max_count: int | None = None,
    ) -> "HitsPage":
        """Serving facade pairing BOTH per-request caps like the reference's
        SearchSettings (engine/.../search/results/SearchSettings.java:
        maxHitsToProcess + maxHitsToCount travel together on every search):

          * sort / group / KWIC see at most `max_process` hits — the
            reference stops RETRIEVING past that cap (first-N semantics,
            an unordered limit here), and any statistic derived from them
            is an ESTIMATE once the cap bites;
          * counting is independently capped by `max_count` and reports a
            lower bound (the "≥N" a UI shows) without scanning every hit.

        Returns a HitsPage: `.hits` = the requested window (sorted, with
        left/match/right context columns when `context` is given),
        `.groups` = per-key hit counts over the processed hits (None when
        group_by is None), `.summary` = ONE row
        (n_processed, processed_is_estimate, n_counted, count_is_lower_bound).
        Both cap probes compile to CollectLimit — a runaway query costs
        O(cap), not O(hits)."""
        from blacklab_spark.operators import grouping as G
        from blacklab_spark.operators.spans import SPAN_COLS

        hits_df = self.find_cql(query)
        if (
            sort is None and group_by in (None, *SPAN_COLS)
            and isinstance(hits_df, LocalFrame) and hits_df.columns == SPAN_COLS
        ):
            return self._local_hits_page(
                hits_df, group_by, first, number, context, max_process, max_count
            )
        processed = (
            G.process_window(hits_df, max_process)
            if max_process is not None else hits_df
        )
        if max_process is not None:
            n_proc = G.capped_count(hits_df, max_process).select(
                F.col("n_hits").alias("n_processed"),
                F.col("is_lower_bound").alias("processed_is_estimate"),
            )
        else:
            n_proc = hits_df.agg(
                F.count("*").alias("n_processed"),
                F.lit(0).alias("processed_is_estimate"),
            )
        if max_count is not None:
            n_count = G.capped_count(hits_df, max_count).select(
                F.col("n_hits").alias("n_counted"),
                F.col("is_lower_bound").alias("count_is_lower_bound"),
            )
        else:
            n_count = hits_df.agg(
                F.count("*").alias("n_counted"),
                F.lit(0).alias("count_is_lower_bound"),
            )
        summary = n_proc.crossJoin(n_count)
        groups = None
        if group_by is not None:
            groups = processed.groupBy(group_by).agg(
                F.count("*").alias("n_hits")
            )
        order = sort or [F.asc("doc_id"), F.asc("start"), F.asc("end")]
        page = G.hits_window(processed, order, first, number)
        if context is not None:
            # KWIC joins only the page (≤ number rows), then the tiny result
            # is re-ordered — the join itself does not preserve sort order
            page = G.kwic_spans(page, self.docs, context).orderBy(*order)
        return HitsPage(hits=page, groups=groups, summary=summary)

    def _local_hits_page(
        self, hits_df, group_by, first, number, context, max_process, max_count
    ) -> "HitsPage":
        """hits_page over driver-path hits: the same window, groups (by a
        span column), KWIC and summary computed in the driver, each a
        LocalFrame (no Spark job). KWIC is grouping.kwic_spans over the docs,
        which joins them on Spark when the page's docs' row groups exceed
        one task's split."""
        from blacklab_spark.operators import grouping as G
        from blacklab_spark.operators.spans import SPAN_COLS

        hits = hits_df.table.to_pandas()
        n = len(hits)
        processed = hits.iloc[:max_process]
        summary = local_frame(
            self.spark, "n_processed long, processed_is_estimate int, "
            "n_counted long, count_is_lower_bound int",
            pd.DataFrame([_capped(n, max_process) + _capped(n, max_count)], columns=[
                "n_processed", "processed_is_estimate", "n_counted",
                "count_is_lower_bound"]),
        )
        groups = None
        if group_by is not None:  # the Spark path's groupBy(...).agg(count)
            groups = local_frame(
                self.spark, f"{group_by} {_SPAN_TYPES[group_by]}, n_hits long",
                processed.groupby(group_by).size().reset_index(name="n_hits"),
            )
        page = processed.sort_values(SPAN_COLS, kind="stable")
        window = local_frame(self.spark, _SPANS, page.iloc[first:first + number])
        if context is not None:
            window = G.kwic_spans(window, self.docs, context)
            if not isinstance(window, LocalFrame):  # the docs read went to Spark
                window = window.orderBy(*SPAN_COLS)
        return HitsPage(window, groups, summary)

    def search(self, query: str, k: int = 10) -> DataFrame:
        """Parse a query string (mini-BCQL: terms / quoted phrase / /regex/)
        and run top-k BM25."""
        q = parse_query(query)
        if isinstance(q, PhraseQuery):
            return self.search_phrase(q.terms, k=k)
        assert isinstance(q, (OrQuery, AndQuery))
        # each atom is ONE clause; a wildcard/regex atom expands to a
        # multi-term clause (Lucene BooleanQuery semantics: the expansion is
        # OR-ed inside the clause, not flattened into sibling MUST clauses)
        clauses: list[list[str]] = []
        for t in q.terms:
            clauses.append(self.expand_pattern(t.pattern) if t.regex else [t.pattern])
        if isinstance(q, AndQuery):
            return _top_k(self.score_and_groups(clauses, k=k), k)
        return self.search_or([t for c in clauses for t in c], k=k)
