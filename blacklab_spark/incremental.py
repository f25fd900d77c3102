"""Incremental index maintenance — append a new segment, compact later.

Reference analog: BlackLab's incremental add-to-index
(/root/reference/server/src/main/java/nl/inl/blacklab/server/requesthandlers/
RequestHandlerAddToIndex.java) on top of Lucene's append-a-segment model,
with BlackLab's custom merge as the compaction
(/root/reference/engine/src/main/java/nl/inl/blacklab/codec/BlackLabPostingsWriter.java:96-130).

Design:
  * add_to_index appends: new docs get docIDs starting at the current N
    (dense rank within the batch under the same (conv_id, turn_idx) order);
    a new posting SEGMENT is encoded for the delta only, with block_no
    offset by a per-segment base so segments coexist; term_dict is merged
    (df/cf summed; new terms get fresh dense ids above the old max).
  * Scores stay EXACT after an append: the decode path recomputes BM25 from
    stored (tf, dl) with the UPDATED meta avgdl and term_dict df — nothing
    scored at build time is trusted except the block-max bound.
  * The stored block_max_score IS stale after an append (df/avgdl moved),
    so meta["bounds_stale"]=True disables block-max WAND pruning until
    compact_index() rebuilds postings from the docs table (full stats) and
    clears the flag — exactly Lucene's "bounds are per-segment until merge".
  * Crash safety (Lucene's atomic segments_N commit analog): every output is
    staged OUTSIDE the live dirs first; a _pending_append.json marker records
    exactly which part files will be moved; the meta rewrite is the commit
    point. recover_pending() rolls a torn append back (marker present, meta
    old) or finishes its cleanup (marker present, meta new).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blacklab_spark.build import IndexPaths, build_index, _mark_stage

SEGMENT_BLOCK_BASE = 1 << 44  # block_no high bits per segment
PENDING_MARKER = "_pending_append.json"
TD_OLD = "_term_dict_old"
# how long an UNREADABLE marker is presumed held before recovery may claim it
MARKER_GRACE_SEC = 60.0

# markers held by live add_to_index calls in THIS process (threads share a
# pid, so the pid-liveness test alone cannot tell "another thread mid-append"
# from "our own crashed re-entry") — guarded by _LOCAL_LOCK
_LOCAL_LOCK = threading.Lock()
_LOCAL_MARKERS: set = set()


def _acquire_append_marker(path: str, payload: dict) -> str:
    """Acquire the pending-append marker as an EXCLUSIVE lock. The payload is
    first written and fsynced to a private temp file, then os.link()ed to the
    marker name: the link is the atomic acquisition (EEXIST = lock held, no
    check-then-create window — ADVICE r4 TOCTOU fix) AND the marker is never
    visible without its complete JSON payload (ADVICE r5: an O_EXCL create
    followed by a write exposed a momentarily-empty marker that a concurrent
    recover_pending could misread as torn/orphaned and delete, releasing the
    live writer's lock)."""
    marker = os.path.join(path, PENDING_MARKER)
    tmp = f"{marker}.{os.getpid()}.{threading.get_ident()}.tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=2)
        f.flush()
        os.fsync(f.fileno())
    try:
        try:
            os.link(tmp, marker)
        except FileExistsError:
            owner = None
            try:
                with open(marker) as f:
                    owner = json.load(f).get("writer_pid")
            except Exception:
                pass
            raise RuntimeError(
                f"concurrent append in progress on {path} "
                f"(pending marker held by writer pid={owner}); "
                "retry after it completes or dies"
            )
        except OSError:
            # Filesystem without hardlink support (some FUSE/object-store/
            # SMB mounts — ADVICE r6): fall back to the O_EXCL
            # create-then-write path. Its acquire is still atomic; the
            # narrower race it reintroduces is only the momentarily-empty-
            # marker window vs a concurrent recover_pending.
            try:
                fd = os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                raise RuntimeError(
                    f"concurrent append in progress on {path} "
                    "(pending marker exists); retry after it completes or dies"
                ) from None
            with os.fdopen(fd, "w") as f, open(tmp) as src:
                f.write(src.read())
                f.flush()
                os.fsync(f.fileno())
    finally:
        os.unlink(tmp)
    with _LOCAL_LOCK:
        _LOCAL_MARKERS.add(marker)
    return marker


def _release_local_marker(marker: str) -> None:
    with _LOCAL_LOCK:
        _LOCAL_MARKERS.discard(marker)


def _atomic_json_write(target: str, obj) -> None:
    """Write JSON to a temp file in the same dir, fsync, then rename over the
    target — the commit is the atomic rename (Lucene writes a NEW segments_N
    and renames; an in-place truncate+write would leave a torn file on crash)."""
    tmp = target + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=2)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, target)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def recover_pending(path: str) -> bool:
    """Detect and resolve a partially-applied add_to_index.

    Returns True if anything was repaired. If the new meta was written (the
    commit point) the append is rolled FORWARD (cleanup only); otherwise it is
    rolled BACK: moved delta part files are deleted from the live dirs and the
    old term dictionary is restored, leaving the pre-append index intact.

    A marker owned by a LIVE writer process (pid recorded in the marker,
    still running, not us) is left alone — recovering under a mid-flight
    writer would delete part files it just moved. Only orphaned markers
    (writer dead, or our own re-entry) are recovered.
    """
    marker = os.path.join(path, PENDING_MARKER)
    # sweep tmp payloads orphaned by a writer killed between the fsync and
    # the os.link (no lock was taken, so they are inert — but each crashed
    # attempt would otherwise accumulate one forever). The embedded pid
    # names the owner; only dead owners' files are removed.
    import glob

    for tmp in glob.glob(f"{marker}.*.tmp"):
        try:
            pid = int(os.path.basename(tmp).split(".")[-3])
        except (ValueError, IndexError):
            pid = None
        if pid is not None and _pid_alive(pid):
            # live owner (possibly ANOTHER THREAD of this process between
            # its fsync and link) — not ours to touch
            continue
        if pid is None and (
            time.time() - os.path.getmtime(tmp) < MARKER_GRACE_SEC
        ):
            continue
        try:
            os.unlink(tmp)
        except OSError:
            pass
    if not os.path.exists(marker):
        return False
    with _LOCAL_LOCK:
        if marker in _LOCAL_MARKERS:
            return False  # held by a live add_to_index thread in THIS process
    try:
        with open(marker) as f:
            info = json.load(f)
    except Exception:
        # Unreadable marker. The link-based acquisition never exposes a
        # content-less marker, but the O_EXCL fallback (filesystems without
        # hard links) leaves one empty until its write lands — for good if
        # the writer dies in between. Otherwise this means filesystem damage
        # (or a foreign writer using a different scheme). Treat it as HELD
        # unless it has aged past a grace period — deleting a marker we
        # cannot attribute to a dead writer risks unlocking a live append.
        try:
            age = time.time() - os.path.getmtime(marker)
        except OSError:
            return False
        if age < MARKER_GRACE_SEC:
            return False
        info = {}
    writer = info.get("writer_pid")
    if writer is not None and writer != os.getpid() and _pid_alive(writer):
        return False  # live writer holds the marker; not ours to recover
    paths = IndexPaths(path)
    with open(paths.meta) as f:
        meta = json.load(f)
    td_old = os.path.join(path, TD_OLD)
    committed = (
        info.get("new_n_segments") is not None
        and meta.get("n_segments", 1) == info["new_n_segments"]
    )
    if committed:
        shutil.rmtree(td_old, ignore_errors=True)
    else:
        for sub, names in info.get("moved", {}).items():
            live = os.path.join(path, sub)
            for nm in names:
                p = os.path.join(live, nm)
                if os.path.exists(p):
                    os.remove(p)
        if os.path.exists(td_old):
            shutil.rmtree(paths.term_dict, ignore_errors=True)
            os.rename(td_old, paths.term_dict)
    for d in info.get("staging", []):
        shutil.rmtree(os.path.join(path, d), ignore_errors=True)
    os.remove(marker)
    return True


def _part_files(directory: str) -> list[str]:
    return sorted(
        nm for nm in os.listdir(directory)
        if nm.startswith("part-") and not nm.endswith(".crc")
    )


def add_to_index(
    spark: SparkSession,
    new_transcripts: DataFrame,
    path: str,
    _fail_point: str | None = None,
) -> IndexPaths:
    recover_pending(path)
    paths = IndexPaths(path)
    with open(paths.meta) as f:
        meta = json.load(f)
    # fold-convention gate (ADVICE r5): appending with a different fold
    # convention than the one baked into the stored layers would mix both
    # inside ONE term dictionary — refuse on an explicit mismatch, warn when
    # the index predates the stamp (convention unknown)
    from blacklab_spark.tokenizer import FOLD_VERSION

    stamped = meta.get("fold_version")
    if stamped is not None and stamped != FOLD_VERSION:
        raise RuntimeError(
            f"index at {path} was built with fold_version={stamped} but this "
            f"engine folds with version {FOLD_VERSION}; appending would mix "
            "fold conventions inside one term dictionary — rebuild the index"
        )
    if stamped is None:
        import warnings

        warnings.warn(
            f"index at {path} has no fold_version stamp (pre-r6 build); "
            f"appending assumes it matches the current version {FOLD_VERSION}",
            stacklevel=2,
        )
    n_old = meta["n_docs"]
    n_terms_old = meta["n_terms"]
    segment = meta.get("n_segments", 1)

    def _fail(point: str) -> None:
        if _fail_point == point:
            raise RuntimeError(f"injected failure at {point}")

    # ---- stage 0: acquire the pending marker as the append LOCK -------------
    # O_EXCL create = the acquisition; a second writer (any process, any
    # thread) fails the create and gets the concurrent-append error instead
    # of racing the part-file moves. The initial payload lists every staging
    # dir this append will create, so a crash anywhere before the commit
    # point rolls back cleanly.
    staging = f"_segment_{segment}"
    docs_delta = "_docs_delta"
    postings_delta = "_postings_delta"
    td_merged = "_term_dict_merged"
    td_new = "_term_dict_new"
    staging_dirs = [staging, docs_delta, postings_delta, td_merged, td_new]
    marker = _acquire_append_marker(
        path,
        {
            "new_n_segments": segment + 1,
            "staging": staging_dirs,
            "writer_pid": os.getpid(),
        },
    )
    try:
        return _append_locked(
            spark, new_transcripts, path, paths, meta, n_old, n_terms_old,
            segment, staging, docs_delta, postings_delta, td_merged, td_new,
            staging_dirs, marker, _fail,
        )
    finally:
        # drop the in-process hold in every exit path; on an EXCEPTION the
        # marker FILE stays behind for recover_pending (which may now act on
        # it — writer dead-or-us and no local hold), on success it was
        # already removed by the cleanup stage
        _release_local_marker(marker)


def _append_locked(
    spark, new_transcripts, path, paths, meta, n_old, n_terms_old,
    segment, staging, docs_delta, postings_delta, td_merged, td_new,
    staging_dirs, marker, _fail,
) -> IndexPaths:
    # ---- stage 1: build the delta as a standalone mini-index ---------------
    # (reuses the whole build pipeline: same tokenizer, salting, codecs)
    build_index(
        spark, new_transcripts, os.path.join(path, staging),
        doc_key=tuple(meta.get("doc_key", ["conv_id", "turn_idx"])),
        block_size=meta["block_size"],
        salt_df_threshold=meta["salt_df_threshold"],
        docs_per_salt=meta["docs_per_salt"],
        # an offsets-bearing base index needs offsets in the delta too, or
        # the merged docs dir would mix schemas and kwic_text would break
        # on appended docs (raises here instead if the delta has no text)
        store_offsets=bool(meta.get("store_offsets", False)),
    )
    s = IndexPaths(os.path.join(path, staging))
    with open(s.meta) as f:
        smeta = json.load(f)

    # ---- stage 2: stage every output OUTSIDE the live dirs ------------------
    # docs: shift docIDs by n_old
    spark.read.parquet(s.docs).withColumn(
        "doc_id", F.col("doc_id") + F.lit(n_old)
    ).write.mode("overwrite").parquet(os.path.join(path, docs_delta))

    # term_dict merge: df/cf summed; new terms get dense ids above the old max
    old_td = spark.read.parquet(paths.term_dict)
    delta_td = spark.read.parquet(s.term_dict).select(
        "term",
        F.col("term_id").alias("d_term_id"),
        F.col("df").alias("d_df"),
        F.col("cf").alias("d_cf"),
    )
    joined = old_td.join(delta_td, "term", "full_outer")
    from pyspark.sql import Window
    new_terms = joined.filter(F.col("term_id").isNull())
    w = Window.orderBy("term")  # new-vocab cardinality is delta-sized; fine
    new_ids = new_terms.withColumn(
        "term_id", F.row_number().over(w) + F.lit(n_terms_old - 1)
    )
    merged = (
        joined.filter(F.col("term_id").isNotNull())
        .unionByName(new_ids)
        .select(
            "term",
            "term_id",
            (F.coalesce(F.col("df"), F.lit(0)) + F.coalesce(F.col("d_df"), F.lit(0))).alias("df"),
            (F.coalesce(F.col("cf"), F.lit(0)) + F.coalesce(F.col("d_cf"), F.lit(0))).alias("cf"),
            F.col("d_term_id"),
        )
    )
    # MATERIALIZE the merged dict before deriving from it — everything below
    # reads the written copy, not the lazy lineage
    merged.write.mode("overwrite").parquet(os.path.join(path, td_merged))
    merged_w = spark.read.parquet(os.path.join(path, td_merged))
    merged_w.drop("d_term_id").write.mode("overwrite").parquet(
        os.path.join(path, td_new)
    )
    n_terms_new = merged_w.count()

    # postings: remap delta term_ids -> merged ids, shift docs + blocks
    id_map = merged_w.filter(F.col("d_term_id").isNotNull()).select(
        F.col("d_term_id"), F.col("term_id").alias("new_term_id")
    )
    sp = spark.read.parquet(s.postings)
    (
        sp.join(F.broadcast(id_map), sp["term_id"] == id_map["d_term_id"])
        .select(
            F.col("new_term_id").alias("term_id"),
            (F.col("block_no") + F.lit(segment * SEGMENT_BLOCK_BASE)).alias("block_no"),
            (F.col("first_doc_id") + F.lit(n_old)).alias("first_doc_id"),
            (F.col("last_doc_id") + F.lit(n_old)).alias("last_doc_id"),
            "num_docs", "doc_gaps", "tfs", "dls", "positions",
            "block_max_tf", "block_max_score",
        )
        .write.mode("overwrite").parquet(os.path.join(path, postings_delta))
    )

    # ---- stage 3: record the move list in the held marker, then mutate
    # live dirs (we own the marker since stage 0; the rename-over update is
    # atomic and keeps the lock file in place) ------------------------------
    moved = {
        "docs": _part_files(os.path.join(path, docs_delta)),
        "postings": _part_files(os.path.join(path, postings_delta)),
    }
    _atomic_json_write(
        marker,
        {
            "new_n_segments": segment + 1,
            "moved": moved,
            "staging": staging_dirs,
            "writer_pid": os.getpid(),
        },
    )
    _fail("after_marker")

    for sub, delta in (("docs", docs_delta), ("postings", postings_delta)):
        live = os.path.join(path, sub)
        for i, nm in enumerate(moved[sub]):
            os.rename(os.path.join(path, delta, nm), os.path.join(live, nm))
            if i == 0:
                _fail(f"mid_move_{sub}")

    td_old = os.path.join(path, TD_OLD)
    os.rename(paths.term_dict, td_old)
    _fail("mid_swap")
    os.rename(os.path.join(path, td_new), paths.term_dict)
    staging_dirs.remove(td_new)

    # ---- commit point: the meta rewrite -------------------------------------
    meta["n_docs"] = n_old + smeta["n_docs"]
    meta["total_tokens"] = meta["total_tokens"] + smeta["total_tokens"]
    meta["avgdl"] = float(meta["total_tokens"]) / float(meta["n_docs"])
    meta["n_terms"] = n_terms_new
    meta["n_segments"] = segment + 1
    meta["bounds_stale"] = True  # block_max_score no longer an upper bound
    _atomic_json_write(paths.meta, meta)  # commit point = atomic rename
    _fail("after_commit")

    # ---- cleanup -------------------------------------------------------------
    _mark_stage(paths, f"segment_{segment}", time.time(), docs_added=smeta["n_docs"])
    shutil.rmtree(td_old, ignore_errors=True)
    for d in staging_dirs:
        shutil.rmtree(os.path.join(path, d), ignore_errors=True)
    os.remove(marker)
    return paths


def compact_index(spark: SparkSession, path: str) -> IndexPaths:
    """Rebuild postings/term_dict from the docs table with full-corpus stats
    (the segment-merge compaction); restores exact block-max bounds."""
    paths = IndexPaths(path)
    with open(paths.meta) as f:
        meta = json.load(f)
    docs = spark.read.parquet(paths.docs)
    # Rebuild from the STORED tokens (the forward index), never by
    # re-tokenizing text: pre-tokenized layers (lemma/pos, CoNLL-U) have no
    # meaningful text, and multi-value indexes keep their full value lists
    # only in tokens_mv. This makes compaction exact for every index type.
    if "tokens_mv" in docs.columns:
        transcripts = (
            docs.drop("doc_id", "dl", "tokens")
            .withColumnRenamed("tokens_mv", "tokens")
        )
    else:
        transcripts = docs.drop("doc_id", "dl")
    rebuilt = os.path.join(path, "_compacted")
    build_index(
        spark, transcripts, rebuilt,
        doc_key=tuple(meta.get("doc_key", ["conv_id", "turn_idx"])),
        block_size=meta["block_size"],
        salt_df_threshold=meta["salt_df_threshold"],
        docs_per_salt=meta["docs_per_salt"],
    )
    for sub in ["docs", "term_dict", "postings", "manifest"]:
        dst = os.path.join(path, sub)
        shutil.rmtree(dst, ignore_errors=True)
        os.rename(os.path.join(rebuilt, sub), dst)
    with open(IndexPaths(rebuilt).meta) as f:
        new_meta = json.load(f)
    new_meta["n_segments"] = 1
    new_meta["bounds_stale"] = False
    _atomic_json_write(paths.meta, new_meta)
    shutil.rmtree(rebuilt)
    return paths
