"""The shared edges of every streaming runner, and the one on-disk
layout for batch-keyed state: staging, the microbatch runner, the
child session a pinned query runs on, and the slice store.

Each ``run_streaming_*`` keeps only its staging and its per-batch
body. The plan is the same as in batch; only the ``readStream`` /
``writeStream`` edges below are streaming-specific:

- :func:`scratch_root` names a run's scratch directory;
- input waves are staged as parquet under ``root/in`` and skipped when
  resuming from a checkpoint (:func:`staged_ready`,
  :func:`stage_ordered_ranges`);
- :func:`staged_stream` reads ``root/in`` one file per trigger;
- :func:`run_microbatches` drives ``foreachBatch(body)`` with the
  checkpoint under ``root/ckpt`` and ``availableNow``, and injects the
  post-write crash that the recovery tests resume from;
- :func:`child_session` gives a query its own conf (the state-store
  partition count, the nanos reader flag) without writing the
  caller's session.

The slice store: every batch-keyed artifact (streamed sketch
partials, index append trees, label patches, tombstones, snapshot
versions) is a directory ``store`` of slices ``store/batch=<id>``.
:func:`write_slice` overwrites one slice, so a batch replayed after a
crash rewrites exactly its own; :func:`slice_ids` lists them;
:func:`read_slices` reads the slices below ``before`` (the replay-safe
read of a batch's predecessors) with a ``batch`` column. The schema is
recorded in ``store/_schema.json`` before the data lands and every
read pins it, so no read runs a schema-inference job (Spark's listing
skips ``_`` files). Slice :data:`REQUEST_SLICE` (``-1``) belongs to the
request path (``ivf_index_erase``, ``text_index_erase``): writes to it
append, since a request is never replayed, and a streamed batch id is
never negative, so a stream never overwrites it and every ``before=``
read includes it. How slices fold (latest label per id, base row wins
on ``vec_id``, counter sums) stays with each family. Finished stores
fold through :func:`commit_swap` / :func:`heal_swap`.

Staging completion: a bare ``os.path.exists(dir)`` guard is NOT
crash-atomic: the directory exists from the moment the write starts,
so a run killed mid-staging would resume against a partial (or empty)
input set and silently serve results over missing records. Spark's
committer writes the ``_SUCCESS`` marker only after every task
commits — that marker, not the directory, is the completion signal;
incomplete leftovers are simply overwritten.
"""

from __future__ import annotations

import json
import os
import re
import tempfile
import threading
import uuid
import weakref

# A stateful streaming query creates one state store PER shuffle
# partition and fixes the count in its checkpoint at first start, and
# per-store open/commit overhead dominates small-to-medium streams
# (interval join at sf0.1: 32 partitions 15.0 s, 8 partitions 3.3 s,
# same 371 rows). Pinned queries run on a child session with this
# count; on a real cluster size it to the executor-core count.
STATE_PARTITIONS = 8
PINNED_CONF = {"spark.sql.shuffle.partitions": str(STATE_PARTITIONS)}


# one child per (caller session, override set); see child_session
_CHILDREN: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_CHILDREN_LOCK = threading.Lock()


def child_session(spark, conf: dict[str, str]):
    """A session of ``spark``'s context carrying every runtime-settable
    conf of ``spark`` (so a runtime-set ``session.timeZone`` survives,
    which a bare ``newSession()`` drops) with ``conf`` set on top.
    Queries that need a conf value run here, so the caller's session is
    never written. Temp views registered on the child stay there.

    The child is made once per (``spark``, ``conf``) and brought back in
    line with ``spark``'s conf on every call: a session that starts a
    stream registers a listener on the context's bus that is never
    removed, so a fresh child per query would leak one listener and
    its session state per call. A running query is unaffected by the
    re-sync, since Spark runs each query on its own clone of the
    session taken at start."""
    overrides = tuple(sorted(conf.items()))
    with _CHILDREN_LOCK:
        kids = _CHILDREN.setdefault(spark, {})
        child = kids.get(overrides)
        if child is None:
            child = kids[overrides] = spark.newSession()
        mine = spark.conf.getAll
        for k in child.conf.getAll:
            # a key the caller has unset since the last call
            if k not in mine and k not in conf and child.conf.isModifiable(k):
                child.conf.unset(k)
        for k, v in mine.items():
            if spark.conf.isModifiable(k):
                child.conf.set(k, v)
        for k, v in conf.items():
            child.conf.set(k, v)
    return child


def scratch_root(root: str | None, tag: str) -> str:
    """``root``, or a fresh ``$TMPDIR/etl_gcp_spark_<tag>_<uuid>``."""
    return root or os.path.join(
        tempfile.gettempdir(), f"etl_gcp_spark_{tag}_{uuid.uuid4().hex}"
    )


def staged_stream(spark, root: str, schema: str):
    """File stream over the parquet staged under ``root/in``, one file
    per trigger, so an N-file staging replays as N microbatches."""
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(os.path.join(root, "in"))
    )


def run_microbatches(
    stream, root: str, body, fail_after_batches: int | None = None
) -> None:
    """Run ``body(batch_df, batch_id)`` on every microbatch of
    ``stream`` until the input available at start is consumed
    (``availableNow``), checkpointing under ``root/ckpt``; passing the
    same ``root`` again resumes from the last committed batch.

    Exactly-once contract for bodies: write state only through
    :func:`write_slice` under ``batch_id``, and read it through
    :func:`read_slices` with ``before=batch_id``, so a batch replayed
    after a crash rewrites its own slices from the same predecessors.
    ``fail_after_batches`` injects that crash: after the body's writes
    of the N-th batch of this run, before the checkpoint commit — the
    point the engine must replay from (recovery tests)."""
    done = 0

    def step(batch_df, batch_id):
        nonlocal done
        body(batch_df, batch_id)
        done += 1
        if fail_after_batches and done >= fail_after_batches:
            raise RuntimeError("injected crash (recovery test)")

    (
        stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def staged_ready(path: str) -> bool:
    """True iff a previous staging run COMPLETED, so a resume may
    reuse it: either Spark's committer marker (single-write staging)
    or this module's sibling marker (multi-wave staging, written by
    :func:`mark_staged` after the last wave). The sibling marker
    lives OUTSIDE the directory so ``load(staged/*)`` globs never
    see it."""
    return os.path.exists(path + "._ok") or os.path.exists(
        os.path.join(path, "_SUCCESS")
    )


def mark_staged(path: str) -> None:
    """Record that multi-wave staging finished — call strictly AFTER
    the last wave's write returns. Wave writes themselves must use
    overwrite mode so a partial earlier attempt is replaced, not
    appended to."""
    with open(path + "._ok", "w"):
        pass


def stage_ordered_ranges(df, key_col: str, staged: str, n_batches: int) -> None:
    """Stage ``df`` as ``n_batches`` ascending key-range parquet files
    in ONE pass — the input-wave staging every ordered streaming
    harness needs (id-ordered dedup, time-ordered markov), replacing
    the approxQuantile + n sequential filtered-scan-and-write waves
    (n+1 full input passes) with a single ``repartitionByRange``
    shuffle write (r10; guide §1.2: one pass where one pass suffices).

    Ordering contract: the file stream source replays files in
    (modTime, path) order, and parallel write tasks finish in
    arbitrary order — so after the write, each part file's mtime is
    REWRITTEN to a strictly increasing sequence in path order (range
    partition i lands in part-0000i, so path order IS ascending key
    order). Rows with equal keys always land in one partition
    (RangePartitioner), and any contiguous split replays to the same
    result — the consumers' greedy/stage-cut rules are cut-invariant.
    Completion is marked crash-atomically via :func:`mark_staged`
    strictly after the mtime rewrite."""
    import shutil
    import time

    from pyspark.sql import functions as F

    # write → utime → RENAME: the committer's _SUCCESS would otherwise
    # mark the staging "ready" in the crash window before the mtime
    # rewrite, and a resume could replay files out of range order. The
    # rename publishes the directory only after the order is enforced.
    tmp = staged + "_staging"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(staged, ignore_errors=True)
    df.repartitionByRange(n_batches, F.col(key_col)).write.mode(
        "overwrite"
    ).parquet(tmp)
    parts = sorted(
        e for e in os.listdir(tmp)
        if e.startswith("part-") and not e.endswith(".crc")
    )
    if len(parts) < n_batches:
        # empty range partitions emit no part file, so a skewed or
        # low-cardinality key column silently collapses the microbatch
        # count — crash-resume tests counting batches (fail_after_
        # batches × maxFilesPerTrigger=1) would stop exercising the
        # resume path. Surface it rather than hiding it.
        import warnings

        warnings.warn(
            f"stage_ordered_ranges: staged {len(parts)} part files for"
            f" n_batches={n_batches} (empty range partitions on"
            f" {key_col!r}); downstream batch counts shrink accordingly",
            stacklevel=2,
        )
    base = int(time.time()) - len(parts)
    for i, p in enumerate(parts):
        os.utime(os.path.join(tmp, p), (base + i, base + i))
    os.rename(tmp, staged)
    mark_staged(staged)


def heal_swap(base: str) -> None:
    """Repair a :func:`commit_swap` interrupted between its two
    renames — the one crash window where ``base`` does not exist.
    Roll FORWARD when the fully-written replacement is present
    (``base + "_compacting"`` carries Spark's committer marker: it
    was completely written before the swap began), else roll BACK to
    the preserved ``base + "_old"``. Idempotent and a no-op when
    ``base`` exists; compactors call it on entry so a store crashed
    mid-swap self-repairs on the next maintenance pass instead of
    needing the manual rename the r7 review flagged.
    """
    import shutil

    if os.path.isdir(base):
        # a completed swap may still have leftovers to sweep
        shutil.rmtree(base + "_old", ignore_errors=True)
        return
    tmp, old = base + "_compacting", base + "_old"
    if os.path.exists(os.path.join(tmp, "_SUCCESS")):
        os.rename(tmp, base)
        shutil.rmtree(old, ignore_errors=True)
    elif os.path.isdir(old):
        os.rename(old, base)
        shutil.rmtree(tmp, ignore_errors=True)


def commit_swap(base: str) -> None:
    """Publish ``base + "_compacting"`` (a complete, committer-marked
    rewrite) as ``base`` via the two-rename local-FS swap shared by
    every compactor (IVF vectors, text postings/doclen, entity
    labels/maskkeys). The window between the renames is the only
    state without a live ``base``; it is recoverable in BOTH
    directions and :func:`heal_swap` rolls it forward. An
    object-store deployment replaces this with a manifest/table-
    format commit (Iceberg/Delta-style) — renames there are neither
    atomic nor cheap.
    """
    import shutil

    tmp, old = base + "_compacting", base + "_old"
    os.rename(base, old)
    os.rename(tmp, base)
    shutil.rmtree(old, ignore_errors=True)


# the slice the request path appends to; see the module docstring
REQUEST_SLICE = -1
_SCHEMA = "_schema.json"


def _slice_dir(store: str, batch_id: int) -> str:
    return os.path.join(store, f"batch={batch_id}")


def write_slice(df, store: str, batch_id: int, partition_by=()) -> None:
    """Write ``df`` as slice ``batch_id`` of ``store`` (overwrite, or
    append for :data:`REQUEST_SLICE`), partitioned by ``partition_by``
    inside the slice. The schema sidecar is replaced first, so every
    slice on disk has its schema recorded."""
    os.makedirs(store, exist_ok=True)
    tmp = os.path.join(store, f"{_SCHEMA}.{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        fh.write(df.schema.json())
    os.replace(tmp, os.path.join(store, _SCHEMA))
    mode = "append" if batch_id == REQUEST_SLICE else "overwrite"
    df.write.mode(mode).partitionBy(*partition_by).parquet(
        _slice_dir(store, batch_id)
    )


def slice_ids(store: str) -> list[int]:
    """The sorted slice ids of ``store``; ``[]`` when it is missing."""
    try:
        names = os.listdir(store)
    except FileNotFoundError:
        return []
    found = (re.fullmatch(r"batch=(-?\d+)", n) for n in names)
    return sorted(int(m[1]) for m in found if m)


def read_slices(spark, store: str, before: int | None = None):
    """The slices of ``store`` with an id below ``before`` (all when
    None; :data:`REQUEST_SLICE` is below every batch id) as one frame
    with an int ``batch`` column, or None when there are none. Reads
    by explicit slice path with the recorded schema: no inference job,
    and partition filters on ``partition_by`` columns still prune."""
    from pyspark.sql import types as T

    ids = [i for i in slice_ids(store) if before is None or i < before]
    if not ids:
        return None
    with open(os.path.join(store, _SCHEMA)) as fh:
        schema = T.StructType.fromJson(json.load(fh))
    return (
        spark.read.schema(schema.add("batch", T.IntegerType()))
        .option("basePath", store)
        .parquet(*[_slice_dir(store, i) for i in ids])
    )


def drop_slices(store: str, before: int) -> None:
    """Remove the slices of ``store`` with an id below ``before``."""
    import shutil

    for i in slice_ids(store):
        if i < before:
            shutil.rmtree(_slice_dir(store, i), ignore_errors=True)
