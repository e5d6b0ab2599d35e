"""Histogram state store (S3/S7/S10): parquet-backed, batch-merged.

The reference does a per-entity HBase Get before scoring and a Put after
merging (HogHBaseHistogram.scala:75-136) — per-row RPCs inside foreach.
The engine's contract (SURVEY.md §4 custom-work item 1): scoring reads
are an equi-join against the saved state table, and writes are ONE
batched upsert per family per run.  Two backends behind one entry
point (:func:`upsert`): real Delta ``MERGE INTO`` when the session has
delta-spark wired in (:func:`delta_available` probes at call time), else
one full-outer join with a single projection over it, written as a
staged parquet rewrite — the same shuffle shape, with crash-safety from
the atomic generation pointer.  Both apply the identical per-mode merge
expressions (:func:`_merge_exprs`).

Update modes:
  - "merge":     weighted mean + decay (Histograms.merge, H5)
  - "merge_max": pointwise max, sizes added (Histograms.mergeMax, H6)
  - "replace":   snapshot overwrite (the HIST02.1 path)
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hogzilla_spark.operators.histogram import (
    merge_histograms,
    merge_labels,
    merge_max,
    merged_size,
)
from hogzilla_spark.schemas import HISTOGRAMS

def EMPTY_MAP_D() -> "F.Column":
    """Typed empty map<string,double> (function: Columns need a live session)."""
    return F.map_from_arrays(F.array().cast("array<string>"), F.array().cast("array<double>"))

def EMPTY_MAP_S() -> "F.Column":
    return F.map_from_arrays(F.array().cast("array<string>"), F.array().cast("array<string>"))

_CURRENT = "CURRENT"

def _read_pointer(path: str) -> tuple[str | None, int | None]:
    """(generation dir name, last-applied streaming batch id) from the
    CURRENT pointer.  Line 1 is the generation; an optional
    ``batch=<n>`` line records the last streaming micro-batch whose
    updates were committed into that generation (replay-idempotency,
    see streaming/auth_stream.py).  Single-line legacy pointers parse
    as (gen, None)."""
    marker = os.path.join(path, _CURRENT)
    if not os.path.exists(marker):
        return None, None
    with open(marker, encoding="ascii") as fh:
        lines = [ln.strip() for ln in fh.read().splitlines()]
    gen = lines[0] if lines and lines[0] else None
    batch = None
    for ln in lines[1:]:
        if ln.startswith("batch="):
            batch = int(ln.split("=", 1)[1])
    return gen, batch

def _current_gen(path: str) -> str | None:
    """Name of the active generation dir, or None when the pointer is
    absent (fresh store or pre-generation legacy layout)."""
    return _read_pointer(path)[0]

def last_applied_batch(path: str) -> int | None:
    """Streaming batch id recorded with the current generation, or None.

    foreachBatch under Structured Streaming is at-least-once: a crash
    after ``save()`` but before the checkpoint commit re-delivers the
    same batch on restart.  The store therefore records the batch id
    atomically WITH the generation pointer; the stream skips any batch
    ``<= last_applied_batch`` instead of double-merging histograms.
    One store path pairs with one checkpoint dir (batch ids are
    monotonic per checkpoint)."""
    if not path or not os.path.exists(path):
        return None
    return _read_pointer(path)[1]

def _has_parquet_parts(path: str) -> bool:
    return any(n.startswith("part-") for n in os.listdir(path))

def _store_backend(path: str | None) -> str | None:
    """Which backend owns the store at `path`: ``"delta"`` (a ``_delta_log``
    dir exists), ``"parquet"`` (a ``CURRENT`` pointer or flat part files
    exist), or None (fresh / absent).  One store path stays on one backend
    for its whole life — mixing them silently resurrects or discards rows
    (the load()/merge_into() guards below enforce this)."""
    if not path or not os.path.exists(path):
        return None
    if os.path.isdir(os.path.join(path, "_delta_log")):
        return "delta"
    if _current_gen(path) is not None or _has_parquet_parts(path):
        return "parquet"
    return None

def load(spark: SparkSession, path: str | None) -> DataFrame:
    if path and os.path.exists(path):
        if os.path.isdir(os.path.join(path, "_delta_log")):
            # a store written by merge_into(): read through the Delta log
            # (reading the bare part files would resurrect overwritten rows)
            if not delta_available(spark):
                raise RuntimeError(
                    f"state store at {path} was written by Delta MERGE "
                    "(_delta_log present) but this session has no "
                    "delta-spark; reading the bare part files would "
                    "resurrect logically-overwritten rows. Wire in "
                    "delta-spark or point at a parquet-pointer store."
                )
            return spark.read.format("delta").load(path)
        gen = _current_gen(path)
        if gen is not None and os.path.exists(os.path.join(path, gen)):
            return spark.read.schema(HISTOGRAMS).parquet(os.path.join(path, gen))
        if _has_parquet_parts(path):  # legacy flat layout
            return spark.read.schema(HISTOGRAMS).parquet(path)
    return spark.createDataFrame([], HISTOGRAMS)

def _merge_exprs(
    s_size: str, s_values: str, s_labels: str,
    u_size: str, u_values: str, u_labels: str, mode: str,
) -> dict[str, "F.Column"]:
    """Per-mode merge expressions for a (saved, update) row pair.

    The single source of truth for upsert semantics: the parquet path
    (apply_updates, full-outer join) and the Delta path (merge_into,
    MERGE INTO ... WHEN MATCHED UPDATE) both apply exactly these
    Columns, so the two storage backends can't drift apart.
    """
    mode_c = F.col(mode)
    return {
        "size": F.when(mode_c == "replace", F.col(u_size))
        .when(mode_c == "merge_max", F.col(s_size) + F.col(u_size))
        .otherwise(merged_size(s_size, u_size)),
        "values": F.when(mode_c == "replace", F.col(u_values))
        .when(mode_c == "merge_max", merge_max(s_values, u_values))
        .otherwise(merge_histograms(s_values, s_size, u_values, u_size)),
        "labels": F.when(mode_c == "replace", F.col(u_labels))
        .otherwise(merge_labels(s_labels, u_labels)),
    }

def apply_updates(saved: DataFrame, updates: DataFrame) -> DataFrame:
    """One batched upsert: full-outer join saved ↔ batch updates on
    hist_name, then ONE projection over the join picks each row's
    outcome — saved-only rows keep the saved histogram, update-only rows
    take the update, matched rows merge per the row's mode
    (:func:`_merge_exprs`).  The join and its inputs are planned and
    executed once.  updates columns: (hist_name, size, values, labels,
    mode)."""
    s = saved.select(
        F.col("hist_name"),
        F.col("size").alias("s_size"),
        F.col("values").alias("s_values"),
        F.col("labels").alias("s_labels"),
    )
    u = updates.select(
        F.col("hist_name"),
        F.col("size").alias("u_size"),
        F.col("values").alias("u_values"),
        F.coalesce(F.col("labels"), EMPTY_MAP_S()).alias("u_labels"),
        F.col("mode"),
    )
    exprs = _merge_exprs(
        "s_size", "s_values", "s_labels", "u_size", "u_values", "u_labels", "mode"
    )
    return s.join(u, "hist_name", "full_outer").select(
        "hist_name",
        *(
            F.when(F.col("u_size").isNull(), F.col(f"s_{c}"))
            .when(F.col("s_size").isNull(), F.col(f"u_{c}"))
            .otherwise(merged)
            .alias(c)
            for c, merged in exprs.items()
        ),
    )

def save(df: DataFrame, path: str, batch_id: int | None = None) -> None:
    """Generation-based commit (parquet has no MERGE; Delta would):

      1. write the merged state to a fresh ``gen-<id>`` dir under `path`
      2. atomically repoint ``CURRENT`` at it (tmp-file + ``os.replace``)
      3. garbage-collect generations older than the one just replaced

    Crash-safe: a crash before step 2 leaves the old pointer (and its
    files) untouched; ``os.replace`` is atomic on POSIX, so readers see
    either the old or the new generation, never a torn store.  The
    immediately-previous generation survives one more cycle so lazy
    DataFrames built against it keep working after the swap — the bug
    class of plans resolving file lists after an rmtree+rename.

    ``batch_id`` (streaming callers) is committed in the same atomic
    pointer swap, so "state merged" and "batch recorded" can never be
    observed apart — see last_applied_batch().
    """
    if not os.path.exists(path):
        os.makedirs(path, exist_ok=True)
    prev = _current_gen(path)
    gen = f"gen-{uuid.uuid4().hex[:8]}"
    df.write.parquet(os.path.join(path, gen))
    tmp = os.path.join(path, f"{_CURRENT}.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w", encoding="ascii") as fh:
        fh.write(gen + "\n")
        if batch_id is not None:
            fh.write(f"batch={batch_id}\n")
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(path, _CURRENT))
    # GC: drop everything except the new gen, the pointer, and the
    # generation that was current at entry (still referenced by any
    # unresolved plans from this cycle).  Legacy flat part files count
    # as the previous generation and are removed one cycle later.
    keep = {gen, _CURRENT, prev}
    legacy_live = prev is None and _has_parquet_parts(path)
    for name in os.listdir(path):
        if name in keep:
            continue
        full = os.path.join(path, name)
        if name.startswith("gen-"):
            shutil.rmtree(full, ignore_errors=True)
        elif name.startswith(f"{_CURRENT}.tmp-"):  # crashed save leftovers
            os.unlink(full)
        elif not legacy_live:  # flat-layout files one cycle after migration
            shutil.rmtree(full, ignore_errors=True) if os.path.isdir(full) else os.unlink(full)

def delta_available(spark: SparkSession) -> bool:
    """True when BOTH halves of delta-spark are wired into this session:
    the Python package (delta.tables.DeltaTable) and the JVM extension
    (spark.sql.extensions must carry DeltaSparkSessionExtension — the
    pip package alone cannot plan a MERGE).  Probed at call time so the
    same code runs in this container (no delta → parquet-pointer store)
    and on a cluster with Delta on the classpath (→ real MERGE INTO)."""
    try:
        from delta.tables import DeltaTable  # noqa: F401
    except Exception:
        return False
    try:
        ext = spark.conf.get("spark.sql.extensions", "") or ""
    except Exception:
        return False
    return "DeltaSparkSessionExtension" in ext

def merge_into(spark: SparkSession, updates: DataFrame, path: str) -> None:
    """Transactional upsert via Delta ``MERGE INTO`` — the cluster form
    of :func:`apply_updates` + :func:`save` (SCALE.md "Known single-node
    shortcuts").  Same shuffle shape (one hash join on hist_name), same
    merge semantics (_merge_exprs is shared verbatim), but the commit is
    a Delta transaction instead of the staged-parquet pointer swap.

    Requires :func:`delta_available`; callers go through :func:`upsert`,
    which dispatches here only when the probe passes.
    """
    from delta.tables import DeltaTable

    u = updates.select(
        "hist_name",
        F.col("size").cast("long").alias("size"),
        "values",
        F.coalesce(F.col("labels"), EMPTY_MAP_S()).alias("labels"),
        "mode",
    )
    if not DeltaTable.isDeltaTable(spark, path):
        if _store_backend(path) == "parquet":
            # an existing parquet-pointer store lives here; seeding Delta
            # with only this batch's updates would silently discard every
            # previously-saved histogram not in the batch (and Delta
            # refuses non-empty non-Delta dirs anyway).  upsert() keeps
            # such stores on the parquet backend; direct callers must
            # migrate explicitly.
            raise RuntimeError(
                f"{path} holds an existing parquet-pointer state store; "
                "refusing to overwrite it with a Delta seed. Use "
                "upsert() (which keeps parquet stores on the parquet "
                "backend) or migrate the store to a fresh Delta path."
            )
        # first write into a fresh path: seed the table with the updates
        # themselves (nothing saved yet, so every row is an insert)
        u.drop("mode").write.format("delta").mode("overwrite").save(path)
        return
    t = DeltaTable.forPath(spark, path)
    exprs = _merge_exprs(
        "s.size", "s.values", "s.labels", "u.size", "u.values", "u.labels", "u.mode"
    )
    (
        t.alias("s")
        .merge(u.alias("u"), "s.hist_name = u.hist_name")
        .whenMatchedUpdate(set=exprs)
        .whenNotMatchedInsert(
            values={
                "hist_name": F.col("u.hist_name"),
                "size": F.col("u.size"),
                "values": F.col("u.values"),
                "labels": F.col("u.labels"),
            }
        )
        .execute()
    )

def upsert(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    batch_id: int | None = None,
    saved: DataFrame | None = None,
) -> None:
    """One batched state upsert per run (SURVEY.md §4 item 1): Delta
    MERGE when the session has delta-spark wired in, else the
    full-outer-join + generation-pointer parquet store.  Streaming
    callers that need replay idempotency (batch_id) stay on the parquet
    store even under Delta — the pointer file is where
    last_applied_batch() lives, and Delta's SetTransaction API is not
    exposed through DeltaTable.merge.

    A store path stays on the backend that created it: a session that
    newly gains Delta keeps merging an existing parquet-pointer store
    through the parquet path (switching would require migrating the
    saved histograms, not overwriting them), and a batch_id write into a
    Delta store is refused outright — the next MERGE would consult the
    stale Delta log and silently ignore the parquet generation.

    ``saved`` (optional) is a pre-loaded state DataFrame for the parquet
    path, letting batch callers reuse a persisted load() instead of
    re-reading; ignored under Delta (MERGE reads the table itself).
    """
    backend = _store_backend(path)
    if batch_id is not None and backend == "delta":
        raise RuntimeError(
            f"{path} is a Delta store but batch_id={batch_id} requires "
            "the parquet-pointer backend (last_applied_batch lives in "
            "the pointer file); use a separate store path for this "
            "stream."
        )
    if batch_id is None and backend != "parquet" and delta_available(spark):
        merge_into(spark, updates, path)
        return
    if backend == "delta":
        # Delta-owned dir but the MERGE path was not taken (delta-spark
        # not wired into this session).  Falling through would write a
        # parquet generation + CURRENT pointer into the Delta dir — the
        # exact mixed-store hazard guarded against above: the next Delta
        # session consults only the Delta log and silently ignores the
        # parquet rows.  Raise here so a caller-supplied ``saved`` can't
        # bypass the load()-side ownership check.
        raise RuntimeError(
            f"{path} is a Delta store but delta-spark is not available "
            "in this session; refusing to write a parquet generation "
            "into a Delta-owned directory."
        )
    if saved is None:
        saved = load(spark, path)
    save(apply_updates(saved, updates), path, batch_id=batch_id)

def mk_update(
    df: DataFrame, family: str, entity_col: str, mode: str = "merge"
) -> DataFrame:
    """Shape a per-entity batch histogram (entity, size, values[, labels])
    into store update rows for one family."""
    labels = F.col("labels") if "labels" in df.columns else EMPTY_MAP_S()
    return df.select(
        F.concat(F.lit(family + "-"), F.col(entity_col)).alias("hist_name"),
        F.col("size").cast("long").alias("size"),
        F.col("values"),
        labels.alias("labels"),
        F.lit(mode).alias("mode"),
    )
