"""Generation-based state store: crash-safety and reader-survival.

The reference's HBase store gets durability from the region server; our
parquet store must provide it itself (SURVEY.md §4 custom-work item 1).
Contract under test:
  - save() commits via atomic CURRENT-pointer replace (os.replace)
  - a crash BEFORE the pointer swap leaves the previous state readable
  - DataFrames loaded before a save still resolve after it (the old
    generation survives one cycle)
  - legacy flat parquet layouts migrate in place
"""

from __future__ import annotations

import os
from unittest import mock

import pytest

from hogzilla_spark.schemas import HISTOGRAMS
from hogzilla_spark.state import store


def _mk_state(spark, names):
    return spark.createDataFrame(
        [(n, 10, {"80": 1.0}, {}) for n in names], HISTOGRAMS
    )


def _gens(path):
    return sorted(n for n in os.listdir(path) if n.startswith("gen-"))


def test_save_load_roundtrip(spark, tmp_path):
    path = str(tmp_path / "st")
    store.save(_mk_state(spark, ["HIST01-a", "HIST01-b"]), path)
    assert store.load(spark, path).count() == 2
    assert len(_gens(path)) == 1
    assert store._current_gen(path) in _gens(path)


def test_load_missing_is_empty(spark, tmp_path):
    assert store.load(spark, str(tmp_path / "nope")).count() == 0


def test_lazy_reader_survives_swap(spark, tmp_path):
    """The round-1 bug: plans built against the old files must still
    resolve after save() commits a new generation."""
    path = str(tmp_path / "st")
    store.save(_mk_state(spark, ["HIST01-a"]), path)
    old = store.load(spark, path)  # lazy — no action yet
    store.save(_mk_state(spark, ["HIST01-a", "HIST01-b"]), path)
    assert old.count() == 1  # reads the kept previous generation
    assert store.load(spark, path).count() == 2


def test_gc_keeps_exactly_two_generations(spark, tmp_path):
    path = str(tmp_path / "st")
    for i in range(4):
        store.save(_mk_state(spark, [f"HIST01-{j}" for j in range(i + 1)]), path)
    assert len(_gens(path)) == 2
    assert store.load(spark, path).count() == 4


def test_crash_before_pointer_swap_preserves_state(spark, tmp_path):
    """Kill the save between the parquet write and the CURRENT replace:
    the store must still serve the previous generation."""
    path = str(tmp_path / "st")
    store.save(_mk_state(spark, ["HIST01-a"]), path)
    before = store._current_gen(path)

    with mock.patch.object(store.os, "replace", side_effect=OSError("crash")):
        with pytest.raises(OSError):
            store.save(_mk_state(spark, ["HIST01-a", "HIST01-b"]), path)

    assert store._current_gen(path) == before
    assert store.load(spark, path).count() == 1
    # recovery: the next save succeeds and cleans the orphan gen + tmp
    store.save(_mk_state(spark, ["HIST01-a", "HIST01-b", "HIST01-c"]), path)
    assert store.load(spark, path).count() == 3
    assert not [n for n in os.listdir(path) if n.startswith("CURRENT.tmp-")]


def test_legacy_flat_layout_migrates(spark, tmp_path):
    """Stores written before the generation scheme (plain parquet dir)
    load as-is and upgrade on the first save."""
    path = str(tmp_path / "st")
    _mk_state(spark, ["HIST01-a"]).write.parquet(path)
    assert store._current_gen(path) is None
    assert store.load(spark, path).count() == 1

    old = store.load(spark, path)
    store.save(_mk_state(spark, ["HIST01-a", "HIST01-b"]), path)
    assert old.count() == 1  # legacy files kept one cycle
    assert store.load(spark, path).count() == 2
    # second generational save clears the flat legacy files
    store.save(_mk_state(spark, ["HIST01-a", "HIST01-b", "HIST01-c"]), path)
    assert not [n for n in os.listdir(path) if n.startswith("part-")]
    assert store.load(spark, path).count() == 3


def _mk_updates(spark, rows):
    """(hist_name, size, values, labels, mode) update rows."""
    from pyspark.sql.types import (
        LongType, MapType, StringType, StructField, StructType,
    )

    schema = StructType(
        [
            StructField("hist_name", StringType()),
            StructField("size", LongType()),
            StructField("values", MapType(StringType(), StringType())),
            StructField("labels", MapType(StringType(), StringType())),
            StructField("mode", StringType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    from pyspark.sql import functions as F

    return df.withColumn(
        "values", F.col("values").cast("map<string,double>")
    )


def test_delta_probe_is_honest_here(spark):
    """This container has no delta-spark; the probe must say so (the
    gated MERGE path is cluster-only by design — VERDICT r8 task 8)."""
    assert store.delta_available(spark) is False


def test_upsert_falls_back_to_parquet_store(spark, tmp_path):
    """upsert() without Delta == apply_updates + save, byte for byte."""
    path_a = str(tmp_path / "via_upsert")
    path_b = str(tmp_path / "via_explicit")
    first = _mk_updates(
        spark, [("HIST01-a", 10, {"80": "1.0"}, {}, "merge")]
    )
    second = _mk_updates(
        spark,
        [
            ("HIST01-a", 6, {"80": "0.5", "443": "0.5"}, {}, "merge"),
            ("HIST07-b", 3, {"22": "2.0"}, {}, "merge_max"),
        ],
    )
    for upd in (first, second):
        store.upsert(spark, upd, path_a)
        store.save(store.apply_updates(store.load(spark, path_b), upd), path_b)
    a = {r["hist_name"]: r for r in store.load(spark, path_a).collect()}
    b = {r["hist_name"]: r for r in store.load(spark, path_b).collect()}
    assert set(a) == set(b) == {"HIST01-a", "HIST07-b"}
    for k in a:
        assert a[k]["size"] == b[k]["size"]
        assert a[k]["values"] == b[k]["values"]


def test_merge_into_requires_delta(spark, tmp_path):
    """The MERGE path must fail loudly, not fall back silently, when
    called without the probe (upsert() is the dispatching entry)."""
    upd = _mk_updates(spark, [("HIST01-a", 1, {"80": "1.0"}, {}, "merge")])
    with pytest.raises(Exception):
        store.merge_into(spark, upd, str(tmp_path / "d"))


# ---------------------------------------------------------------------------
# Delta MERGE contract (VERDICT r9 task 4): the real merge_into() body runs
# against a recording DeltaTable stub, so the CI-unexercised branch (no
# delta-spark in this container) can't rot — the clause set it issues is
# pinned to _merge_exprs exactly.
# ---------------------------------------------------------------------------

import sys
import types


class _FakeMergeBuilder:
    def __init__(self, rec):
        self.rec = rec

    def whenMatchedUpdate(self, set):
        self.rec["matched_update"] = set
        return self

    def whenNotMatchedInsert(self, values):
        self.rec["not_matched_insert"] = values
        return self

    def execute(self):
        self.rec["executed"] = True


class _FakeDeltaTable:
    """Records the merge call chain merge_into() issues."""

    is_delta = True
    rec: dict = {}

    @classmethod
    def isDeltaTable(cls, spark, path):
        return cls.is_delta

    @classmethod
    def forPath(cls, spark, path):
        cls.rec["for_path"] = path
        return cls()

    def alias(self, name):
        _FakeDeltaTable.rec["target_alias"] = name
        return self

    def merge(self, source, condition):
        _FakeDeltaTable.rec["source_cols"] = source.columns
        _FakeDeltaTable.rec["condition"] = condition
        return _FakeMergeBuilder(_FakeDeltaTable.rec)


@pytest.fixture
def delta_stub():
    """Inject a fake `delta.tables` module for the duration of a test."""
    mod = types.ModuleType("delta")
    tables = types.ModuleType("delta.tables")
    tables.DeltaTable = _FakeDeltaTable
    mod.tables = tables
    _FakeDeltaTable.rec = {}
    _FakeDeltaTable.is_delta = True
    with mock.patch.dict(sys.modules, {"delta": mod, "delta.tables": tables}):
        yield _FakeDeltaTable


def test_merge_into_issues_exact_merge_exprs(spark, tmp_path, delta_stub):
    """merge_into must emit s.hist_name = u.hist_name, a matched-UPDATE
    whose set-clauses are exactly _merge_exprs over the s./u. aliases,
    and a not-matched-INSERT of the four state columns."""
    upd = _mk_updates(spark, [("HIST01-a", 4, {"80": "1.0"}, {}, "merge")])
    store.merge_into(spark, upd, str(tmp_path / "d"))

    rec = delta_stub.rec
    assert rec["executed"] is True
    assert rec["target_alias"] == "s"
    assert rec["condition"] == "s.hist_name = u.hist_name"
    # source carries the mode column (per-row merge semantics) + state cols
    assert set(rec["source_cols"]) == {"hist_name", "size", "values", "labels", "mode"}

    expected = store._merge_exprs(
        "s.size", "s.values", "s.labels", "u.size", "u.values", "u.labels", "u.mode"
    )
    got = rec["matched_update"]
    assert set(got) == set(expected) == {"size", "values", "labels"}

    import re

    def canon(col):  # lambda vars gensym a fresh counter per construction
        return re.sub(r"\b([a-z]+)_\d+\b", r"\1", str(col))

    for k in expected:  # Column equality via canonical expression string
        assert canon(got[k]) == canon(expected[k]), k

    ins = rec["not_matched_insert"]
    assert set(ins) == {"hist_name", "size", "values", "labels"}
    for k, col in ins.items():
        assert str(col) == str(F_col(f"u.{k}")), k


def F_col(name):
    from pyspark.sql import functions as F

    return F.col(name)


def test_merge_into_refuses_existing_parquet_store(spark, tmp_path, delta_stub):
    """ADVICE r9 (store.py:249): a first Delta write into a path that
    already holds a parquet-pointer store must raise, not discard the
    saved histograms by seeding with only this batch's updates."""
    path = str(tmp_path / "st")
    store.save(_mk_state(spark, ["HIST01-a"]), path)  # existing parquet store
    delta_stub.is_delta = False  # Delta doesn't own the path (yet)
    upd = _mk_updates(spark, [("HIST02-b", 1, {"53": "1.0"}, {}, "merge")])
    with pytest.raises(RuntimeError, match="parquet-pointer"):
        store.merge_into(spark, upd, path)
    # nothing lost
    assert store.load(spark, path).count() == 1


def test_load_refuses_delta_log_without_delta(spark, tmp_path):
    """ADVICE r9 (store.py:89): a Delta-written store read in a session
    without delta-spark must raise, not fall through to the bare part
    files (which would resurrect logically-overwritten rows)."""
    path = tmp_path / "st"
    (path / "_delta_log").mkdir(parents=True)
    with pytest.raises(RuntimeError, match="delta"):
        store.load(spark, str(path))


def test_upsert_refuses_batch_id_into_delta_store(spark, tmp_path):
    """ADVICE r9 (store.py:286): a streaming (batch_id) write into a
    Delta-owned path would create a mixed-mode store the next MERGE
    silently ignores — refuse it."""
    path = tmp_path / "st"
    (path / "_delta_log").mkdir(parents=True)
    upd = _mk_updates(spark, [("HIST01-a", 1, {"80": "1.0"}, {}, "merge")])
    with pytest.raises(RuntimeError, match="batch_id"):
        store.upsert(spark, upd, str(path), batch_id=7)


def test_upsert_refuses_saved_bypass_into_delta_store(spark, tmp_path):
    """ADVICE r10 (store.py:345): with backend='delta', batch_id=None
    and delta-spark unavailable, a caller passing ``saved`` used to skip
    load() (whose ownership check would raise) and save() a parquet
    generation + CURRENT pointer into the Delta-owned dir — rows the
    next Delta session silently ignores.  upsert() must raise before
    the parquet fallthrough whenever the merge path is not taken."""
    path = tmp_path / "st"
    (path / "_delta_log").mkdir(parents=True)
    upd = _mk_updates(spark, [("HIST01-a", 1, {"80": "1.0"}, {}, "merge")])
    pre = store.load(spark, None)  # an empty pre-loaded state
    with pytest.raises(RuntimeError, match="[Dd]elta"):
        store.upsert(spark, upd, str(path), saved=pre)
    # and without saved too (load() would also catch it, but the guard
    # fires first and names the actual hazard)
    with pytest.raises(RuntimeError, match="[Dd]elta"):
        store.upsert(spark, upd, str(path))
    assert not (path / "CURRENT").exists()


def test_upsert_keeps_parquet_store_on_parquet_under_delta(spark, tmp_path, delta_stub):
    """A session that newly gains Delta must keep an existing
    parquet-pointer store on the parquet backend (not clobber it)."""
    path = str(tmp_path / "st")
    first = _mk_updates(spark, [("HIST01-a", 10, {"80": "1.0"}, {}, "merge")])
    store.upsert(spark, first, path)  # parquet store created (no delta here)
    delta_stub.is_delta = False
    with mock.patch.object(store, "delta_available", return_value=True):
        second = _mk_updates(spark, [("HIST07-b", 3, {"22": "2.0"}, {}, "merge_max")])
        store.upsert(spark, second, path)
    # merged through the parquet path: both rows present, no Delta calls
    assert store.load(spark, path).count() == 2
    assert "executed" not in delta_stub.rec


def test_run_and_persist_goes_through_upsert(spark, tmp_path):
    """ADVICE r9 (batch.py:221): the batch path must use store.upsert,
    the documented single dispatch point, so backend fixes reach it."""
    import inspect

    from hogzilla_spark.plans import batch

    src = inspect.getsource(batch.run_and_persist)
    assert "store.upsert(" in src
    assert "merge_into" not in src


def _three_branch_apply_updates(saved, updates):
    """The earlier apply_updates, kept as the twin of the one-pass
    merge: the full-outer join filtered three ways (both / saved only /
    update only) and put back together with two unions."""
    from pyspark.sql import functions as F

    s = saved.select(
        "hist_name", F.col("size").alias("s_size"),
        F.col("values").alias("s_values"), F.col("labels").alias("s_labels"),
    )
    u = updates.select(
        "hist_name", F.col("size").alias("u_size"), F.col("values").alias("u_values"),
        F.coalesce(F.col("labels"), store.EMPTY_MAP_S()).alias("u_labels"), "mode",
    )
    j = s.join(u, "hist_name", "full_outer")
    both = j.filter(F.col("s_size").isNotNull() & F.col("u_size").isNotNull())
    only_saved = j.filter(F.col("u_size").isNull()).select(
        "hist_name", F.col("s_size").alias("size"),
        F.col("s_values").alias("values"), F.col("s_labels").alias("labels"),
    )
    only_new = j.filter(F.col("s_size").isNull()).select(
        "hist_name", F.col("u_size").alias("size"),
        F.col("u_values").alias("values"), F.col("u_labels").alias("labels"),
    )
    exprs = store._merge_exprs(
        "s_size", "s_values", "s_labels", "u_size", "u_values", "u_labels", "mode"
    )
    merged = both.select("hist_name", *(e.alias(c) for c, e in exprs.items()))
    return merged.unionByName(only_saved).unionByName(only_new)


def test_one_pass_merge_matches_three_branch_twin(spark):
    """apply_updates' single projection equals the three-branch union
    for every mode and every row kind: matched, saved only, update
    only.  Sizes straddle the 1,000 decay point; values and labels
    overlap partly so every merge expression has work to do."""
    saved_rows, update_rows = [], []
    for mode in ("merge", "merge_max", "replace"):
        for size in (40, 1500):
            saved_rows.append((f"HIST01-both-{mode}-{size}", size,
                               {"80": 0.75, "443": 0.25}, {"80": "http"}))
            update_rows.append((f"HIST01-both-{mode}-{size}", 8,
                                {"443": "0.5", "22": "0.5"}, {"22": "ssh", "80": "web"}, mode))
        saved_rows.append((f"HIST01-saved-{mode}", 12, {"53": 1.0}, {"53": "dns"}))
        update_rows.append((f"HIST01-new-{mode}", 3, {"25": "1.0"}, None, mode))
    saved = spark.createDataFrame(saved_rows, HISTOGRAMS)
    updates = _mk_updates(spark, update_rows)

    def rows(df):
        canon = lambda v: tuple(sorted(v.items())) if isinstance(v, dict) else v  # noqa: E731
        return sorted(tuple(canon(v) for v in r) for r in df.collect())

    got = store.apply_updates(saved, updates)
    want = _three_branch_apply_updates(saved, updates)
    assert got.dtypes == want.dtypes
    assert rows(got) == rows(want)
    kinds = {r.hist_name.split("-")[1] for r in got.collect()}
    assert kinds == {"both", "saved", "new"} and got.count() == 12
