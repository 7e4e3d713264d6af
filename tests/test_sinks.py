"""Property tests for sink semantics — SURVEY.md §5 item 4:
upsert idempotency (K1 twice ≡ once), truncate-reload ≡ overwrite
(K3), merge keeps unmatched rows."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from pitlapetl_spark.sinks import merge_upsert, overwrite, read_or_none, upsert_partitioned
from pitlapetl_spark.sources import load_table


def _snapshot(spark, path):
    return sorted(
        tuple(r) for r in spark.read.parquet(path).collect()
    )


def test_upsert_idempotent(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    agg = events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    path = tempfile.mkdtemp(prefix="pitlap_t_") + "/t"
    upsert_partitioned(agg, path, "event_type")
    once = _snapshot(spark, path)
    upsert_partitioned(agg, path, "event_type")
    twice = _snapshot(spark, path)
    assert once == twice


def test_upsert_touches_only_its_partitions(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    agg = events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    path = tempfile.mkdtemp(prefix="pitlap_t_") + "/t"
    upsert_partitioned(agg, path, "event_type")
    before = {t for (t,) in spark.read.parquet(path).select("event_type").distinct().collect()}
    # upsert only 'click' with a sentinel value
    clicks = agg.filter(F.col("event_type") == "click").withColumn(
        "n", F.lit(-1).cast("long")
    )
    upsert_partitioned(clicks, path, "event_type")
    after = spark.read.parquet(path)
    assert {t for (t,) in after.select("event_type").distinct().collect()} == before
    assert after.filter((F.col("event_type") == "click") & (F.col("n") != -1)).count() == 0
    assert after.filter((F.col("event_type") != "click") & (F.col("n") == -1)).count() == 0


def test_overwrite_full_refresh(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="pitlap_t_") + "/t"
    overwrite(events.filter(F.col("event_type") == "view"), path)
    overwrite(events.filter(F.col("event_type") == "error"), path)
    kinds = {t for (t,) in spark.read.parquet(path).select("event_type").distinct().collect()}
    assert kinds == {"error"}


def test_merge_upsert_row_level(spark, sf_dir):
    existing = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k int, name string, v double"
    )
    updates = spark.createDataFrame(
        [(2, "b2", 99.0), (4, "d", 40.0)], "k int, name string, v double"
    )
    merged = {r.k: (r.name, r.v) for r in merge_upsert(existing, updates, ["k"]).collect()}
    assert merged == {1: ("a", 10.0), 2: ("b2", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_read_or_none_missing(spark):
    assert read_or_none(spark, "/tmp/definitely_missing_pitlap") is None


def test_staged_swap_survives_midwrite_failure(spark):
    """K3 contract the r1 docstring promised but the code didn't keep:
    a failure DURING the replacement write must leave the old table
    fully readable (plain mode('overwrite') deletes the old data
    before the new write commits). The failing write here blows up
    executor-side mid-job via a poisoned UDF."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from pitlapetl_spark.sinks import staged_swap

    path = tempfile.mkdtemp(prefix="pitlap_t_") + "/t"
    good = spark.range(0, 100).withColumnRenamed("id", "k")
    staged_swap(good, path)
    before = _snapshot(spark, path)

    @F.udf(T.LongType())
    def boom(x):
        raise RuntimeError("simulated mid-write failure")

    bad = spark.range(0, 100).select(boom(F.col("id")).alias("k"))
    with _pytest.raises(Exception):
        staged_swap(bad, path)
    assert _snapshot(spark, path) == before


def test_merge_upsert_write_roundtrip(spark):
    """merge_upsert_write persists update+insert+unchanged correctly
    even though the merged plan reads the table being replaced."""
    from pitlapetl_spark.sinks import merge_upsert_write

    path = tempfile.mkdtemp(prefix="pitlap_t_") + "/t"
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k int, v double"
    ).write.parquet(path)
    merge_upsert_write(
        spark.createDataFrame([(2, 99.0), (4, 40.0)], "k int, v double"),
        path,
        ["k"],
    )
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: 10.0, 2: 99.0, 3: 30.0, 4: 40.0}


def test_merge_partition_scoped_rewrites_only_touched(spark):
    """The 100-TB MERGE shape: a merge touching one day must leave
    every other day's data files byte-untouched on disk (proven by
    inode mtime), produce the same result a full-table merge would,
    and be idempotent on replay."""
    import glob
    import os

    from pitlapetl_spark.sinks import merge_upsert_partition_scoped

    path = tempfile.mkdtemp(prefix="pitlap_t_") + "/t"
    base = spark.createDataFrame(
        [
            ("d1", 1, 10.0), ("d1", 2, 20.0),
            ("d2", 3, 30.0), ("d2", 4, 40.0),
            ("d3", 5, 50.0),
        ],
        "day string, k int, v double",
    )
    merge_upsert_partition_scoped(base, path, ["k"], "day")

    untouched_before = {
        f: os.stat(f).st_mtime_ns
        for f in glob.glob(f"{path}/day=d2/*.parquet")
        + glob.glob(f"{path}/day=d3/*.parquet")
    }
    assert untouched_before

    updates = spark.createDataFrame(
        [("d1", 2, 99.0), ("d1", 6, 60.0)], "day string, k int, v double"
    )
    touched = merge_upsert_partition_scoped(updates, path, ["k"], "day")
    assert touched == ["d1"]

    got = {r.k: (r.day, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {
        1: ("d1", 10.0), 2: ("d1", 99.0), 6: ("d1", 60.0),
        3: ("d2", 30.0), 4: ("d2", 40.0), 5: ("d3", 50.0),
    }
    untouched_after = {
        f: os.stat(f).st_mtime_ns
        for f in glob.glob(f"{path}/day=d2/*.parquet")
        + glob.glob(f"{path}/day=d3/*.parquet")
    }
    assert untouched_after == untouched_before, "untouched partitions were rewritten"

    # replaying the same merge is a no-op on content
    merge_upsert_partition_scoped(updates, path, ["k"], "day")
    assert {r.k: (r.day, r.v) for r in spark.read.parquet(path).collect()} == got
    # no stage/trash residue next to the table
    assert not glob.glob(f"{path}__merge*")


def test_merge_partition_scoped_escaped_value_fails_loudly(spark):
    """A part_col value Spark hive-escapes in directory names (':' ->
    %3A) cannot be swapped by the hand-built ``col=value`` rename; the
    old code silently dropped those updates while reporting the value
    as rewritten (ADVICE r3). The MERGE and the upsert, which share the
    swap, must now fail loudly, leave the table byte-identical, and
    leave no staging debris."""
    import glob

    from pitlapetl_spark.sinks import merge_upsert_partition_scoped

    path = tempfile.mkdtemp(prefix="pitlap_t_") + "/t"
    base = spark.createDataFrame(
        [("d1", 1, 10.0), ("d2", 2, 20.0)], "day string, k int, v double"
    )
    merge_upsert_partition_scoped(base, path, ["k"], "day")
    before = {r.k: (r.day, r.v) for r in spark.read.parquet(path).collect()}

    bad = spark.createDataFrame([("d:1", 9, 90.0)], "day string, k int, v double")
    with pytest.raises(ValueError, match="escaped"):
        merge_upsert_partition_scoped(bad, path, ["k"], "day")
    with pytest.raises(ValueError, match="escaped"):
        upsert_partitioned(bad, path, "day")
    assert {r.k: (r.day, r.v) for r in spark.read.parquet(path).collect()} == before
    assert not glob.glob(f"{path}__merge*")


def test_merge_partition_scoped_bootstrap_validates_escaping(spark):
    """The FIRST write must apply the same hive-escape validation as
    every later merge — the old direct bootstrap accepted day='d:1'
    (written as day=d%3A1) and then every subsequent merge failed
    permanently. Now the bootstrap rejects it and leaves no table."""
    import glob
    import os

    from pitlapetl_spark.sinks import merge_upsert_partition_scoped

    path = tempfile.mkdtemp(prefix="pitlap_t_") + "/t"
    bad = spark.createDataFrame([("d:1", 1, 1.0)], "day string, k int, v double")
    with pytest.raises(ValueError, match="escaped"):
        merge_upsert_partition_scoped(bad, path, ["k"], "day")
    assert not os.path.exists(path)
    assert not glob.glob(f"{path}__merge*")


def test_merge_upsert_write_rejects_duplicate_update_keys(spark):
    """Duplicate keys in one updates batch would all be inserted by
    the anti-join+union emulation (Delta MERGE rejects this case);
    the write path must refuse."""
    from pitlapetl_spark.sinks import merge_upsert_write

    path = tempfile.mkdtemp(prefix="pitlap_t_") + "/t"
    dup = spark.createDataFrame([(1, 1.0), (1, 2.0)], "k int, v double")
    with pytest.raises(ValueError, match="duplicate key"):
        merge_upsert_write(dup, path, ["k"])


def _file_bytes(path):
    """Every file under ``path`` by relative name, with its bytes."""
    import os

    out = {}
    for root, _dirs, files in os.walk(path):
        for name in files:
            full = os.path.join(root, name)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, path)] = fh.read()
    return out


def test_merge_upsert_write_duplicate_keys_leave_existing_table(spark):
    """Against an existing table the duplicate-key check runs inside
    the staged write: the call raises, the table's files stay
    byte-identical, and no stage directory is left behind."""
    import glob

    from pitlapetl_spark.sinks import merge_upsert_write

    path = tempfile.mkdtemp(prefix="pitlap_t_") + "/t"
    spark.createDataFrame([(1, 10.0), (3, 30.0)], "k int, v double").write.parquet(path)
    before = _file_bytes(path)
    dup = spark.createDataFrame([(2, 1.0), (3, 2.0), (3, 3.0)], "k int, v double")
    with pytest.raises(ValueError, match=r"duplicate key.*3"):
        merge_upsert_write(dup, path, ["k"])
    assert _file_bytes(path) == before
    assert not glob.glob(f"{path}__stage_*")


def test_merge_upsert_write_unreadable_table_fails_inside_stage(spark):
    """A table file that cannot be read fails the staged MERGE write
    itself (no read probe runs first): the call raises, the table's
    files stay byte-identical, and no stage directory is left."""
    import glob

    from pitlapetl_spark.sinks import merge_upsert_write

    path = tempfile.mkdtemp(prefix="pitlap_t_") + "/t"
    spark.createDataFrame([(1, 10.0)], "k int, v double").coalesce(1).write.parquet(path)
    (part,) = glob.glob(f"{path}/part-*.parquet")
    with open(part, "wb") as fh:
        fh.write(b"not a parquet file")
    before = _file_bytes(path)
    with pytest.raises(Exception):
        merge_upsert_write(
            spark.createDataFrame([(2, 20.0)], "k int, v double"), path, ["k"]
        )
    assert _file_bytes(path) == before
    assert not glob.glob(f"{path}__stage_*")


def test_merge_partition_scoped_rejects_duplicate_update_keys(spark):
    """The partition-scoped MERGE (and the scoped streaming sink on
    it) refuses duplicate update keys like the whole-table one: it
    used to insert every copy. The touched partition stays
    byte-identical and the stage is removed."""
    import glob

    from pitlapetl_spark.sinks import merge_upsert_partition_scoped

    path = tempfile.mkdtemp(prefix="pitlap_t_") + "/t"
    base = spark.createDataFrame([("d1", 1, 1.0)], "day string, k int, v double")
    merge_upsert_partition_scoped(base, path, ["k"], "day")
    before = _file_bytes(path)
    dup = spark.createDataFrame(
        [("d1", 2, 1.0), ("d1", 2, 2.0)], "day string, k int, v double"
    )
    with pytest.raises(ValueError, match="duplicate key"):
        merge_upsert_partition_scoped(dup, path, ["k"], "day")
    assert _file_bytes(path) == before
    assert not glob.glob(f"{path}__merge*")


def test_merge_partition_scoped_midswap_failure_recovers(spark, monkeypatch):
    """A crash mid-swap (old partition already displaced into trash,
    later rename fails) must roll the table back to its pre-merge
    state — the pre-fix code rmtree'd the trash in a finally block,
    permanently losing the displaced partition (ADVICE r3 medium)."""
    import os as _os

    from pitlapetl_spark.sinks import merge_upsert_partition_scoped

    path = tempfile.mkdtemp(prefix="pitlap_t_") + "/t"
    base = spark.createDataFrame(
        [("d1", 1, 10.0), ("d2", 2, 20.0), ("d3", 3, 30.0)],
        "day string, k int, v double",
    )
    merge_upsert_partition_scoped(base, path, ["k"], "day")
    before = {r.k: (r.day, r.v) for r in spark.read.parquet(path).collect()}

    updates = spark.createDataFrame(
        [("d1", 1, 99.0), ("d2", 2, 88.0)], "day string, k int, v double"
    )
    real_rename = _os.rename

    def failing_rename(src, dst):
        # d1 swaps fully; d2's displacement into trash blows up
        if "day=d2" in str(dst) and "__mergeold_" in str(dst):
            raise OSError("simulated mid-swap crash")
        real_rename(src, dst)

    monkeypatch.setattr(_os, "rename", failing_rename)
    with pytest.raises(OSError, match="simulated"):
        merge_upsert_partition_scoped(updates, path, ["k"], "day")
    monkeypatch.setattr(_os, "rename", real_rename)

    # every partition — including already-swapped d1 — is back to the
    # pre-merge state, and the displaced copies were NOT destroyed
    assert {r.k: (r.day, r.v) for r in spark.read.parquet(path).collect()} == before

    # the merge is replayable after the failure and then converges
    import glob
    import shutil as _shutil

    for leftover in glob.glob(f"{path}__merge*"):
        _shutil.rmtree(leftover)
    merge_upsert_partition_scoped(updates, path, ["k"], "day")
    got = {r.k: (r.day, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("d1", 99.0), 2: ("d2", 88.0), 3: ("d3", 30.0)}


_CRASH_SCHEMA = "day string, k int, v double"
_CRASH_BASE = [("d1", 1, 10.0), ("d1", 4, 40.0), ("d2", 2, 20.0), ("d3", 3, 30.0)]
# 'a0' is a brand-new partition that sorts BEFORE every existing one:
# it installs first, so a later rename failure must roll it back by
# REMOVAL (there is no old copy to restore); 'd4' covers the
# trailing-new case
_CRASH_UPD = [("a0", 8, 80.0), ("d1", 1, 99.0), ("d2", 2, 88.0), ("d4", 9, 90.0)]


def _crash_merge(spark, path):
    from pitlapetl_spark.sinks import merge_upsert_partition_scoped

    upd = spark.createDataFrame(_CRASH_UPD, _CRASH_SCHEMA)
    merge_upsert_partition_scoped(upd, path, ["k"], "day")


def _crash_upsert(spark, path):
    from pitlapetl_spark.sinks import upsert_partitioned

    upsert_partitioned(spark.createDataFrame(_CRASH_UPD, _CRASH_SCHEMA), path, "day")


def _crash_delete(spark, path):
    from pitlapetl_spark.sinks import delete_keys_partition_scoped

    # d1 loses one of two rows, d2 its only row (the partition vanishes)
    keys = spark.createDataFrame([("d1", 1), ("d2", 2)], "day string, k int")
    delete_keys_partition_scoped(spark, path, keys, ["k"], "day")


@pytest.mark.parametrize(
    "write, n_min, want",
    [
        # 2 displaced + 4 staged moves
        (_crash_merge, 6, {1: ("d1", 99.0), 4: ("d1", 40.0), 2: ("d2", 88.0),
                           3: ("d3", 30.0), 8: ("a0", 80.0), 9: ("d4", 90.0)}),
        # the whole d1 partition is replaced: k=4 goes
        (_crash_upsert, 6, {1: ("d1", 99.0), 2: ("d2", 88.0), 3: ("d3", 30.0),
                            8: ("a0", 80.0), 9: ("d4", 90.0)}),
        # 2 displaced + 1 staged move
        (_crash_delete, 3, {4: ("d1", 40.0), 3: ("d3", 30.0)}),
    ],
    ids=["merge", "upsert", "delete"],
)
def test_merge_partition_scoped_crash_matrix(spark, monkeypatch, write, n_min, want):
    """Inject a failure at EVERY rename call index of one partition
    sink's swap, one run per index: after each injected crash the
    table must read back exactly its pre-write state (full rollback),
    and a clean replay must then converge to the written state. Every
    sink that replaces partitions shares the one swap, so each runs
    the same matrix."""
    import glob
    import os as _os

    from pitlapetl_spark.sinks import upsert_partitioned

    real_rename = _os.rename

    def fresh_table():
        path = tempfile.mkdtemp(prefix="pitlap_t_") + "/t"
        upsert_partitioned(spark.createDataFrame(_CRASH_BASE, _CRASH_SCHEMA), path, "day")
        return path

    def rows(path):
        return {r.k: (r.day, r.v) for r in spark.read.parquet(path).collect()}

    # count the swap's renames in a clean run (same layout every time)
    path = fresh_table()
    calls = []
    monkeypatch.setattr(
        _os, "rename", lambda s, d: (calls.append(1), real_rename(s, d))[1]
    )
    write(spark, path)
    monkeypatch.setattr(_os, "rename", real_rename)
    n_renames = len(calls)
    assert n_renames >= n_min
    assert rows(path) == want

    for fail_at in range(n_renames):
        path = fresh_table()
        before = rows(path)
        seen = [0]

        def crashing(src, dst, _seen=seen, _at=fail_at):
            # transient single fault: exactly the _at-th swap rename
            # fails; the rollback's own renames then succeed (a second
            # failure DURING rollback is the documented
            # leave-trash-for-manual-recovery case, not tested here)
            if "__merge" in str(src) or "__merge" in str(dst):
                n = _seen[0]
                _seen[0] += 1
                if n == _at:
                    raise OSError(f"injected at rename #{_at}")
            real_rename(src, dst)

        monkeypatch.setattr(_os, "rename", crashing)
        with pytest.raises(OSError, match="injected"):
            write(spark, path)
        monkeypatch.setattr(_os, "rename", real_rename)
        assert rows(path) == before, f"rollback broken when rename #{fail_at} fails"
        assert not glob.glob(f"{path}__merge*"), "a clean rollback leaves no debris"
        write(spark, path)
        assert rows(path) == want, f"replay after crash at #{fail_at} did not converge"


def test_merge_partition_scoped_prunes_scan(spark):
    """The anti-join side must PRUNE untouched partitions at the scan:
    the executed plan's parquet scan reads only the touched directory
    (PartitionFilters), not the whole table."""
    from pitlapetl_spark.sinks import merge_upsert

    path = tempfile.mkdtemp(prefix="pitlap_t_") + "/t"
    spark.createDataFrame(
        [("d1", 1, 10.0), ("d2", 2, 20.0), ("d3", 3, 30.0)],
        "day string, k int, v double",
    ).write.partitionBy("day").parquet(path)
    updates = spark.createDataFrame([("d1", 1, 99.0)], "day string, k int, v double")
    scoped = (
        spark.read.parquet(path)
        .filter(F.col("day").isin(["d1"]))
        .select("day", "k", "v")
    )
    plan = (
        merge_upsert(scoped, updates, ["k"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [" in plan
    assert "day#" in plan.split("PartitionFilters: [", 1)[1][:200]


def test_delete_partition_scoped_semantics(spark):
    """GDPR delete: removes exactly the named keys, rewrites only the
    partitions containing them (untouched partition bytes unmodified,
    mtime-proof), removes a fully-deleted partition's directory, and
    re-running the same delete is a no-op."""
    import glob
    import os as _os

    from pitlapetl_spark.sinks import (
        delete_keys_partition_scoped,
        merge_upsert_partition_scoped,
    )

    path = tempfile.mkdtemp(prefix="pitlap_del_") + "/t"
    base = spark.createDataFrame(
        [("d1", 1, 10.0), ("d1", 2, 20.0), ("d2", 3, 30.0), ("d3", 4, 40.0)],
        "day string, k int, v double",
    )
    merge_upsert_partition_scoped(base, path, ["k"], "day")
    untouched = sorted(glob.glob(f"{path}/day=d3/*"))
    mtimes = [_os.path.getmtime(f) for f in untouched]

    # delete k=1 from d1 (partial) and k=3 from d2 (the whole partition)
    keys = spark.createDataFrame([("d1", 1), ("d2", 3)], "day string, k int")
    touched = delete_keys_partition_scoped(spark, path, keys, ["k"], "day")
    assert touched == ["d1", "d2"]

    got = {r.k: (r.day, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {2: ("d1", 20.0), 4: ("d3", 40.0)}
    assert not _os.path.exists(f"{path}/day=d2")  # fully-deleted dir gone
    assert [_os.path.getmtime(f) for f in sorted(glob.glob(f"{path}/day=d3/*"))] == mtimes

    # idempotent: same delete again changes nothing
    delete_keys_partition_scoped(spark, path, keys, ["k"], "day")
    again = {r.k: (r.day, r.v) for r in spark.read.parquet(path).collect()}
    assert again == got

    # deleting from a partition value not in the table is a no-op
    ghost = spark.createDataFrame([("d9", 7)], "day string, k int")
    delete_keys_partition_scoped(spark, path, ghost, ["k"], "day")
    assert {r.k for r in spark.read.parquet(path).collect()} == {2, 4}


def test_delete_partition_scoped_midswap_failure_recovers(spark, monkeypatch):
    """A crash mid-swap during a delete must roll every touched
    partition back — including a fully-deleted partition whose old
    copy is already in trash (the install-nothing path must restore
    it too)."""
    import glob
    import os as _os
    import shutil as _shutil

    from pitlapetl_spark.sinks import (
        delete_keys_partition_scoped,
        merge_upsert_partition_scoped,
    )

    path = tempfile.mkdtemp(prefix="pitlap_del_") + "/t"
    base = spark.createDataFrame(
        [("d1", 1, 10.0), ("d2", 2, 20.0), ("d3", 3, 30.0)],
        "day string, k int, v double",
    )
    merge_upsert_partition_scoped(base, path, ["k"], "day")
    before = {r.k: (r.day, r.v) for r in spark.read.parquet(path).collect()}

    # d1 is a full-partition delete (swaps first and installs nothing);
    # d2's displacement into trash then crashes
    keys = spark.createDataFrame([("d1", 1), ("d2", 2)], "day string, k int")
    real_rename = _os.rename

    def failing_rename(src, dst):
        if "day=d2" in str(dst) and "__mergeold_" in str(dst):
            raise OSError("simulated mid-swap crash")
        real_rename(src, dst)

    monkeypatch.setattr(_os, "rename", failing_rename)
    with pytest.raises(OSError, match="simulated"):
        delete_keys_partition_scoped(spark, path, keys, ["k"], "day")
    monkeypatch.setattr(_os, "rename", real_rename)

    assert {r.k: (r.day, r.v) for r in spark.read.parquet(path).collect()} == before

    # replayable after cleanup, then converges
    for leftover in glob.glob(f"{path}__merge*"):
        _shutil.rmtree(leftover)
    delete_keys_partition_scoped(spark, path, keys, ["k"], "day")
    got = {r.k: (r.day, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {3: ("d3", 30.0)}
    assert not _os.path.exists(f"{path}/day=d1")


def test_delete_is_partition_exact_for_multi_partition_keys(spark):
    """A key living in TWO partitions loses only the copy the request
    names, even when the other partition is also touched by the same
    batch (the pre-fix anti-join on key_cols alone over-deleted it)."""
    from pitlapetl_spark.sinks import (
        delete_keys_partition_scoped,
        merge_upsert_partition_scoped,
    )

    path = tempfile.mkdtemp(prefix="pitlap_del_") + "/t"
    base = spark.createDataFrame(
        [("d1", 5, 1.0), ("d2", 5, 2.0), ("d2", 9, 3.0)],
        "day string, k int, v double",
    )
    merge_upsert_partition_scoped(base, path, ["k"], "day")
    # names (d1,5) and (d2,9): d2 is touched, but (d2,5) is NOT named
    keys = spark.createDataFrame([("d1", 5), ("d2", 9)], "day string, k int")
    delete_keys_partition_scoped(spark, path, keys, ["k"], "day")
    got = sorted((r.day, r.k, r.v) for r in spark.read.parquet(path).collect())
    assert got == [("d2", 5, 2.0)]


def test_delete_rejects_hive_escaped_partition_values(spark):
    """A partition value the hive layout escapes must be rejected up
    front: with vanished partitions legal, a full-partition delete of
    an escaped value would otherwise silently no-op while reporting
    the value as erased."""
    from pitlapetl_spark.sinks import delete_keys_partition_scoped

    path = tempfile.mkdtemp(prefix="pitlap_del_") + "/t"
    spark.createDataFrame(
        [("ok", 1, 1.0)], "day string, k int, v double"
    ).write.partitionBy("day").parquet(path)
    keys = spark.createDataFrame([("d:1", 1)], "day string, k int")
    with pytest.raises(ValueError, match="hive layout escapes"):
        delete_keys_partition_scoped(spark, path, keys, ["k"], "day")


# -------------------------------- round-5 hardening: lock + debris


def test_concurrent_writer_raises_not_interleaves(spark, tmp_path):
    """VERDICT r4 item 6: the single-writer assumption is an enforced
    contract now. A second writer that finds a live flock-held lease
    must raise ConcurrentWriterError — not interleave renames."""
    import fcntl
    import os

    from pitlapetl_spark.sinks import ConcurrentWriterError, staged_swap

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    staged_swap(df, path)  # create the table (lease taken and released)
    # hold a REAL flock on the lease file (flock conflicts across
    # separate open-file-descriptions even within one process)
    fd = os.open(f"{path}__lock", os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)
    try:
        with pytest.raises(ConcurrentWriterError, match="live writer"):
            staged_swap(df, path)
    finally:
        os.close(fd)
    # table unchanged and still writable after the lease clears
    staged_swap(spark.createDataFrame([(2, "b")], "k int, v string"), path)
    assert [tuple(r) for r in spark.read.parquet(path).collect()] == [(2, "b")]


def _lease_merge_upsert_write(spark, path, monkeypatch):
    from pitlapetl_spark import sinks

    sinks.staged_swap(spark.createDataFrame([(1, "a")], "k int, v string"), path)
    upd = spark.createDataFrame([(2, "b")], "k int, v string")
    return lambda: sinks.merge_upsert_write(upd, path, ["k"]), [(1, "a"), (2, "b")]


def _lease_compact(spark, path, monkeypatch):
    from pitlapetl_spark import sinks

    sinks.staged_swap(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), path)
    return lambda: sinks.compact(spark, path, 1), [(1, "a"), (2, "b")]


_LEASE_PART = "day string, k int, v string"


def _lease_upsert_partitioned(spark, path, monkeypatch):
    from pitlapetl_spark import sinks

    sinks.upsert_partitioned(spark.createDataFrame([("d1", 1, "a")], _LEASE_PART), path, "day")
    upd = spark.createDataFrame([("d2", 2, "b")], _LEASE_PART)
    return (
        lambda: sinks.upsert_partitioned(upd, path, "day"),
        [("d1", 1, "a"), ("d2", 2, "b")],
    )


def _lease_merge_partition_scoped(spark, path, monkeypatch):
    from pitlapetl_spark import sinks

    sinks.upsert_partitioned(spark.createDataFrame([("d1", 1, "a")], _LEASE_PART), path, "day")
    upd = spark.createDataFrame([("d1", 2, "b")], _LEASE_PART)
    return (
        lambda: sinks.merge_upsert_partition_scoped(upd, path, ["k"], "day"),
        [("d1", 1, "a"), ("d1", 2, "b")],
    )


def _lease_delete_partition_scoped(spark, path, monkeypatch):
    from pitlapetl_spark import sinks

    base = spark.createDataFrame([("d1", 1, "a"), ("d1", 2, "b")], _LEASE_PART)
    sinks.upsert_partitioned(base, path, "day")
    keys = spark.createDataFrame([("d1", 1)], "day string, k int")
    return (
        lambda: sinks.delete_keys_partition_scoped(spark, path, keys, ["k"], "day"),
        [("d1", 2, "b")],
    )


def _lease_cdc_apply(spark, path, monkeypatch):
    """The streaming CDC sink's per-batch apply, driven directly: its
    ``start`` is stubbed to hand back the foreachBatch body."""
    import datetime

    from pitlapetl_spark.streaming import runtime

    monkeypatch.setattr(runtime, "start", lambda df, body, checkpoint: body)
    schema = "user_id long, ts timestamp, event_type string, value double, event_id long"
    t0 = datetime.datetime(2024, 1, 1)
    t1 = datetime.datetime(2024, 1, 2)
    body = runtime.run_cdc_sink(None, path, f"{path}__ckpt")
    body(spark.createDataFrame([(1, t0, "click", 1.0, 1)], schema), 0)
    later = spark.createDataFrame([(1, t1, "view", 2.0, 2), (2, t0, "click", 3.0, 3)], schema)
    # rows in column-name order: event_id, event_type, ts, user_id, value
    return lambda: body(later, 1), [(2, "view", t1, 1, 2.0), (3, "click", t0, 2, 3.0)]


@pytest.mark.parametrize(
    "make",
    [
        _lease_merge_upsert_write,
        _lease_compact,
        _lease_upsert_partitioned,
        _lease_merge_partition_scoped,
        _lease_delete_partition_scoped,
        _lease_cdc_apply,
    ],
    ids=[
        "merge_upsert_write",
        "compact",
        "upsert_partitioned",
        "merge_partition_scoped",
        "delete_partition_scoped",
        "cdc_apply",
    ],
)
def test_merge_and_compact_lease_covers_read_phase(spark, tmp_path, monkeypatch, make):
    """ADVICE r5 #2: every sink that reads the table it replaces must
    take the writer lease BEFORE that read — a lease scoped to the
    swap alone lets two writers both pass the read phase and the loser
    dies mid-write with FileNotFound instead of the contract's
    ConcurrentWriterError. Observable: under a held lease the write
    raises ConcurrentWriterError WITHOUT ever starting a read, and it
    succeeds once the lease clears."""
    import fcntl
    import os

    import pitlapetl_spark.sinks as sinks

    path = str(tmp_path / "t")
    write, want = make(spark, path, monkeypatch)

    reads = []
    session = type(spark)
    real_read = session.read
    monkeypatch.setattr(
        session, "read", property(lambda s: reads.append(1) or real_read.fget(s))
    )
    fd = os.open(f"{path}__lock", os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)
    try:
        with pytest.raises(sinks.ConcurrentWriterError, match="live writer"):
            write()
        assert reads == []  # lease rejected us before the read phase
    finally:
        os.close(fd)
    write()
    got = sorted(
        tuple(r[c] for c in sorted(r.asDict()))
        for r in spark.read.parquet(path).collect()
    )
    assert got == want


def test_cross_host_lease_fail_fast_and_release_truncation(spark, tmp_path):
    """VERDICT r5 item 6: flock is host-local; if acquisition
    SUCCEEDS while the lease body names a live writer on another host,
    the filesystem provably isn't propagating locks and the write must
    refuse (CrossHostWriterError). A body older than the TTL is a
    crashed foreign holder -> proceed. And release must truncate the
    body (under the lock) so a completed write never false-positives
    a later foreign acquirer."""
    import os
    import time

    import pitlapetl_spark.sinks as sinks

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a")], "k int, v string")

    # fresh foreign lease body -> refuse
    with open(f"{path}__lock", "w") as fh:
        fh.write(f"4242 {int(time.time())} some-other-host\n")
    with pytest.raises(sinks.CrossHostWriterError, match="some-other-host"):
        sinks.staged_swap(df, path)
    # the foreign body must survive our bail-out (protection for the
    # next acquirer is the foreign holder's, not ours, to erase)
    assert "some-other-host" in open(f"{path}__lock").read()

    # stale foreign body (beyond TTL) -> crashed holder, proceed
    with open(f"{path}__lock", "w") as fh:
        fh.write(
            f"4242 {int(time.time()) - sinks.FOREIGN_LEASE_TTL_S - 1} "
            f"some-other-host\n"
        )
    sinks.staged_swap(df, path)
    assert spark.read.parquet(path).count() == 1
    # release truncated the body
    assert open(f"{path}__lock").read() == ""

    # a crashed SAME-machine holder (fresh body, our own identity)
    # must NOT block — the kernel released its flock, and the machine
    # identity (hostname + boot id) proves the body is not foreign
    import socket

    try:
        boot = open("/proc/sys/kernel/random/boot_id").read().strip()
    except OSError:
        boot = "noboot"
    me = f"{socket.gethostname()}/{boot}"
    with open(f"{path}__lock", "w") as fh:
        fh.write(f"4242 {int(time.time())} {me}\n")
    sinks.staged_swap(df, path)
    assert spark.read.parquet(path).count() == 1


def test_dead_writer_lease_auto_releases(spark, tmp_path):
    """A crashed writer's flock is released by the KERNEL — a
    leftover lease file with a dead owner's pid (its flock died with
    the process) must never wedge the table; no steal protocol
    exists or is needed."""
    import os
    import subprocess

    from pitlapetl_spark.sinks import staged_swap

    path = str(tmp_path / "t")
    # a real pid that is guaranteed dead: a child that already exited
    child = subprocess.Popen(["true"])
    child.wait()
    with open(f"{path}__lock", "w") as fh:
        fh.write(f"{child.pid} 0\n")  # dead owner's leftover lease file
    staged_swap(spark.createDataFrame([(1, "a")], "k int, v string"), path)
    assert spark.read.parquet(path).count() == 1
    assert os.path.exists(f"{path}__lock")  # persistent by design


def test_merge_fails_fast_on_crashed_swap_debris(spark, tmp_path):
    """ADVICE r4: leftover __mergestage_/__mergeold_ dirs from a
    hard-killed swap must fail the NEXT write fast instead of
    compounding a half-applied swap."""
    import os

    from pitlapetl_spark.sinks import (
        StaleDebrisError,
        delete_keys_partition_scoped,
        merge_upsert_partition_scoped,
    )

    path = str(tmp_path / "t")
    base = spark.createDataFrame([("d1", 1, 1.0)], "day string, k int, v double")
    merge_upsert_partition_scoped(base, path, ["k"], "day")
    os.makedirs(f"{path}__mergeold_deadbeef/day=d1")
    upd = spark.createDataFrame([("d1", 1, 9.0)], "day string, k int, v double")
    with pytest.raises(StaleDebrisError, match="mergeold_deadbeef"):
        merge_upsert_partition_scoped(upd, path, ["k"], "day")
    keys = spark.createDataFrame([("d1", 1)], "day string, k int")
    with pytest.raises(StaleDebrisError, match="mergeold_deadbeef"):
        delete_keys_partition_scoped(spark, path, keys, ["k"], "day")
    # operator resolves the crash -> writes flow again
    import shutil

    shutil.rmtree(f"{path}__mergeold_deadbeef")
    merge_upsert_partition_scoped(upd, path, ["k"], "day")
    got = sorted(
        (r.day, r.k, r.v)
        for r in spark.read.parquet(path).select("day", "k", "v").collect()
    )
    assert got == [("d1", 1, 9.0)]


def test_staged_swap_recovers_crash_window_old_copy(spark, tmp_path):
    """ADVICE r4: a hard kill between staged_swap's two renames leaves
    the table missing and __old holding the only copy. The next
    staged_swap must restore it BEFORE writing — and if its own write
    then fails, the restored table survives (previously the old copy
    was rmtree'd up front)."""
    import os

    from pitlapetl_spark.sinks import staged_swap

    path = str(tmp_path / "t")
    staged_swap(spark.createDataFrame([(1, "a")], "k int, v string"), path)
    # simulate the crash window: table renamed away, stage orphaned
    os.rename(path, f"{path}__old")
    os.makedirs(f"{path}__stage_deadbeef")
    # next write's df fails to evaluate -> swap aborts...
    from pyspark.sql import functions as F2

    bad = spark.createDataFrame([(1,)], "k int").select(
        F2.assert_true(F2.col("k") < 0).alias("v")
    )
    with pytest.raises(Exception):
        staged_swap(bad, path)
    # ...but the crash-window copy was restored first and survives
    assert [tuple(r) for r in spark.read.parquet(path).collect()] == [(1, "a")]
    assert not os.path.exists(f"{path}__stage_deadbeef")  # debris swept
    # and a healthy retry commits normally
    staged_swap(spark.createDataFrame([(2, "b")], "k int, v string"), path)
    assert [tuple(r) for r in spark.read.parquet(path).collect()] == [(2, "b")]


def test_delete_on_missing_table_raises(spark, tmp_path):
    """ADVICE r4: a GDPR erasure aimed at a missing table path must
    raise, not report success with an empty touched list. An EMPTY
    request still returns [] (nothing to erase is not an error)."""
    import os

    from pitlapetl_spark.sinks import delete_keys_partition_scoped

    missing = str(tmp_path / "never_created")
    keys = spark.createDataFrame([("d1", 1)], "day string, k int")
    with pytest.raises(FileNotFoundError, match="does not exist"):
        delete_keys_partition_scoped(spark, missing, keys, ["k"], "day")
    empty = keys.filter("k < 0")
    assert delete_keys_partition_scoped(spark, missing, empty, ["k"], "day") == []
    # an empty upsert has nothing to write: it touches nothing, not
    # even a missing table
    rows = spark.createDataFrame([], "day string, k int, v double")
    assert upsert_partitioned(rows, missing, "day") == []
    assert not os.path.exists(missing)


def test_bootstrap_rename_failure_leaves_no_debris(spark, tmp_path, monkeypatch):
    """Review r5 #2: if the bootstrap's final rename fails (e.g. a
    racing writer created the table between check and rename), the
    staged dir must be cleaned up — NOT left as phantom crash debris
    that wedges every later write via StaleDebrisError."""
    import glob
    import os as _os

    from pitlapetl_spark.sinks import merge_upsert_partition_scoped

    path = str(tmp_path / "t")
    base = spark.createDataFrame([("d1", 1, 1.0)], "day string, k int, v double")
    real_rename = _os.rename

    def failing_rename(src, dst):
        if "__mergestage_" in str(src) and str(dst) == path:
            raise OSError("simulated rename failure")
        return real_rename(src, dst)

    monkeypatch.setattr(_os, "rename", failing_rename)
    with pytest.raises(OSError, match="simulated"):
        merge_upsert_partition_scoped(base, path, ["k"], "day")
    monkeypatch.undo()
    assert glob.glob(f"{path}__mergestage_*") == []  # no debris
    # and the table is writable afterwards
    merge_upsert_partition_scoped(base, path, ["k"], "day")
    assert spark.read.parquet(path).count() == 1


@pytest.mark.parametrize("days", [[None], ["d1", None]], ids=["all_null", "mixed"])
def test_partition_scoped_sinks_reject_null_partition_values(spark, tmp_path, days):
    """A null ``part_col`` value names no partition directory, so every
    partition-scoped sink raises ValueError for it, alone or mixed with
    other values, before touching the table. The check is a raise, not
    an assert, so it also holds under ``python -O``, where an all-null
    delete must not report ``[None]`` as erased."""
    from pitlapetl_spark.sinks import (
        delete_keys_partition_scoped,
        merge_upsert_partition_scoped,
    )

    path = str(tmp_path / "t")
    schema = "day string, k int, v double"
    merge_upsert_partition_scoped(
        spark.createDataFrame([("d1", 1, 1.0)], schema), path, ["k"], "day"
    )
    before = _snapshot(spark, path)
    bad = spark.createDataFrame([(d, i, 2.0) for i, d in enumerate(days)], schema)
    with pytest.raises(ValueError, match="non-null"):
        merge_upsert_partition_scoped(bad, path, ["k"], "day")
    with pytest.raises(ValueError, match="non-null"):
        delete_keys_partition_scoped(spark, path, bad.select("day", "k"), ["k"], "day")
    with pytest.raises(ValueError, match="non-null"):
        upsert_partitioned(bad, path, "day")
    assert _snapshot(spark, path) == before

