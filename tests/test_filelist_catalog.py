"""commit_mode='filelist': Delta-log-style file-set manifests —
atomic appends, append-level time travel, shared-file retention, OCC."""

from __future__ import annotations

import datetime as dt
import glob as _glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nt_data_pipelines_spark.catalog import Catalog

SCHEMA = T.StructType(
    [
        T.StructField("ticker", T.StringType()),
        T.StructField("date", T.DateType()),
        T.StructField("year", T.IntegerType()),
        T.StructField("close", T.DoubleType()),
    ]
)

D1 = dt.date(2024, 1, 2)
D2 = dt.date(2025, 1, 3)


def _rows(spark, data):
    return spark.createDataFrame([(t, d, d.year, c) for t, d, c in data], SCHEMA)


def _state(cat, name):
    return sorted((r["ticker"], r["close"]) for r in cat.table(name).collect())


def test_filelist_roundtrip_upsert_merge(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "fl"), commit_mode="filelist")
    cat.create("px", SCHEMA, ["year"], ["ticker", "date"], mode="replace")
    cat.insert("px", _rows(spark, [("A", D1, 1.0), ("B", D2, 2.0)]))
    assert _state(cat, "px") == [("A", 1.0), ("B", 2.0)]
    # upsert (append + optimize dedup) converges
    cat.upsert("px", _rows(spark, [("A", D1, 5.0)]))
    assert _state(cat, "px") == [("A", 5.0), ("B", 2.0)]
    # merge with tombstone
    wide = T.StructType(list(SCHEMA.fields) + [T.StructField("deleted", T.BooleanType())])
    cat.merge(
        "px",
        spark.createDataFrame([("B", D2, 2025, 0.0, True), ("C", D1, 2024, 3.0, False)], wide),
        delete_col="deleted",
    )
    assert _state(cat, "px") == [("A", 5.0), ("C", 3.0)]
    # an independent reader resolves the same state
    fresh = Catalog(spark, str(tmp_path / "fl"), commit_mode="filelist")
    assert _state(fresh, "px") == [("A", 5.0), ("C", 3.0)]


def test_filelist_appends_are_snapshots(spark, tmp_path):
    """The headline filelist win: EVERY commit — appends included —
    is a time-travelable generation, so history starts at creation."""
    cat = Catalog(spark, str(tmp_path / "fl"), commit_mode="filelist", time_travel=3)
    cat.create("m", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert("m", _rows(spark, [("A", D1, 1.0)]))
    cat.insert("m", _rows(spark, [("B", D2, 2.0)]))
    cat.insert("m", _rows(spark, [("C", D1, 3.0)]))
    hist = cat.history("m")
    gens = [h["generation"] for h in hist]
    assert len(gens) == 4  # create + three appends
    assert [h["n_files"] for h in hist] == sorted(h["n_files"] for h in hist)
    g_create, g1, g2, g3 = gens
    assert cat.table_at("m", g_create).count() == 0
    assert [r["ticker"] for r in cat.table_at("m", g1).collect()] == ["A"]
    assert sorted(r["ticker"] for r in cat.table_at("m", g2).collect()) == ["A", "B"]
    assert sorted(r["ticker"] for r in cat.table_at("m", g3).collect()) == ["A", "B", "C"]


def test_filelist_rewrite_gc_respects_retention(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "fl"), commit_mode="filelist", time_travel=1)
    cat.create("m", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert("m", _rows(spark, [("A", D1, 1.0)]))
    for v in (2.0, 3.0, 4.0):
        cat.merge("m", _rows(spark, [("A", D1, v)]))  # rewrites
    hist = cat.history("m")
    gens = [h["generation"] for h in hist]
    assert [r["close"] for r in cat.table_at("m", gens[-1]).collect()] == [4.0]
    assert [r["close"] for r in cat.table_at("m", gens[-2]).collect()] == [3.0]
    # generations older than the retention window lost their files
    with pytest.raises(LookupError):
        cat.table_at("m", gens[-2] - 1).collect()
    assert _state(cat, "m") == [("A", 4.0)]


def test_filelist_shared_files_not_duplicated(spark, tmp_path):
    """Appended files are SHARED across generations (referenced, not
    copied) — retention of an append-mostly table is nearly free."""
    root = str(tmp_path / "fl")
    cat = Catalog(spark, root, commit_mode="filelist", time_travel=3)
    cat.create("m", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert("m", _rows(spark, [("A", D1, 1.0)]))
    n_after_first = len(_glob.glob(os.path.join(root, "m.data", "**", "*.parquet"),
                                   recursive=True))
    cat.insert("m", _rows(spark, [("B", D2, 2.0)]))
    n_after_second = len(_glob.glob(os.path.join(root, "m.data", "**", "*.parquet"),
                                    recursive=True))
    # second snapshot adds only the new batch's files; gen-1 files reused
    assert n_after_second > n_after_first
    assert n_after_second <= 2 * n_after_first + 1


def test_filelist_manifest_level_file_skipping(spark, tmp_path):
    """Pruning metadata lives in the LOG (Delta's model): scan_pruned
    plans only the files whose recorded partition-column range can
    match — no footer reads, no listing."""
    cat = Catalog(spark, str(tmp_path / "fl"), commit_mode="filelist")
    cat.create("px", SCHEMA, ["year"], ["ticker", "date"], mode="replace")
    # separate batches so each file covers one year
    cat.insert("px", _rows(spark, [("A", D1, 1.0)]))
    cat.insert("px", _rows(spark, [("B", D2, 2.0)]))
    total_files = len(cat.table("px").inputFiles())
    pruned = cat.scan_pruned("px", year=2024)
    assert [r["ticker"] for r in pruned.collect()] == ["A"]
    full = cat.table("px").filter(F.col("year") == 2024)
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, full.collect()))
    # the pruned plan references fewer files than the table holds
    assert 0 < len(pruned.inputFiles()) < total_files
    with pytest.raises(ValueError, match="unknown"):
        cat.scan_pruned("px", nope=1)


def test_filelist_concurrent_append_and_rewrite(spark, tmp_path):
    """An append losing the commit race to a rewrite retries against
    the winner's file set — both writers' rows survive."""
    root = str(tmp_path / "occ_fl")
    a = Catalog(spark, root, commit_mode="filelist")
    a.create("m", SCHEMA, None, ["ticker", "date"], mode="replace")
    a.insert("m", _rows(spark, [("A", D1, 1.0)]))
    b = Catalog(spark, root, commit_mode="filelist")

    real_commit = a._commit_manifest
    fired = {"done": False}

    def racing_commit(name, gen, **kw):
        if not fired["done"]:
            fired["done"] = True
            b.upsert("m", _rows(spark, [("C", D1, 9.0)]))  # b commits first
        return real_commit(name, gen, **kw)

    a._commit_manifest = racing_commit
    a.insert("m", _rows(spark, [("D", D2, 4.0)]))
    a._commit_manifest = real_commit
    assert _state(a, "m") == [("A", 1.0), ("C", 9.0), ("D", 4.0)]
    fresh = Catalog(spark, root, commit_mode="filelist")
    assert _state(fresh, "m") == [("A", 1.0), ("C", 9.0), ("D", 4.0)]


def test_filelist_torn_manifest_is_skipped(spark, tmp_path):
    root = str(tmp_path / "fl")
    cat = Catalog(spark, root, commit_mode="filelist")
    cat.create("m", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert("m", _rows(spark, [("A", D1, 1.0)]))
    cur = cat._current_gen("m")
    with open(os.path.join(root, "m._manifest", f"{cur + 1}.json"), "w") as f:
        f.write('{"generation": ')  # crash mid-commit
    assert _state(cat, "m") == [("A", 1.0)]  # previous generation stays current
    cat.insert("m", _rows(spark, [("B", D2, 2.0)]))  # next commit skips past it
    assert _state(cat, "m") == [("A", 1.0), ("B", 2.0)]


def test_filelist_compact_and_layout(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "fl"), commit_mode="filelist")
    cat.create("px", SCHEMA, None, ["ticker", "date"], mode="replace")
    for i in range(5):
        cat.insert("px", _rows(spark, [(f"T{i}", D1, float(i))]))
    before = len(cat.data_files("px"))
    out = cat.compact("px", target_file_bytes=1 << 30)
    assert out["files_before"] == before and out["files_after"] == 1
    assert cat.table("px").count() == 5


def test_vacuum_collects_only_old_unreferenced_dirs(spark, tmp_path):
    root = str(tmp_path / "fl")
    cat = Catalog(spark, root, commit_mode="filelist")
    cat.create("m", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert("m", _rows(spark, [("A", D1, 1.0)]))
    # plant an orphan batch dir (a crashed writer's staging area)
    orphan = os.path.join(root, "m.data", "bdeadbeef0000")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-0.parquet"), "wb") as f:
        f.write(b"junk")
    # fresh orphan: inside the age margin, must survive
    assert cat.vacuum("m", older_than_hours=1.0) == []
    assert os.path.isdir(orphan)
    # age it past the margin: collected; referenced dirs untouched
    old = 1  # epoch seconds, far in the past
    os.utime(os.path.join(orphan, "part-0.parquet"), (old, old))
    os.utime(orphan, (old, old))
    assert cat.vacuum("m", older_than_hours=1.0) == ["bdeadbeef0000"]
    assert not os.path.isdir(orphan)
    assert _state(cat, "m") == [("A", 1.0)]
    with pytest.raises(ValueError, match="requires commit_mode"):
        Catalog(spark, str(tmp_path / "r")).vacuum("m")


def test_changes_between_generations(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "cdf"), commit_mode="filelist", time_travel=5)
    cat.create("m", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert("m", _rows(spark, [("A", D1, 1.0), ("B", D2, 2.0)]))
    g1 = cat.history("m")[-1]["generation"]
    wide = T.StructType(list(SCHEMA.fields) + [T.StructField("deleted", T.BooleanType())])
    cat.merge(
        "m",
        spark.createDataFrame(
            [("A", D1, 2024, 10.0, False),   # update
             ("B", D2, 2025, 0.0, True),     # delete
             ("C", D1, 2024, 3.0, False)],   # insert
            wide,
        ),
        delete_col="deleted",
    )
    g2 = cat.history("m")[-1]["generation"]
    feed = {r["ticker"]: (r["_change_type"], r["close"])
            for r in cat.changes_between("m", g1, g2).collect()}
    assert feed == {"A": ("update", 10.0), "B": ("delete", 2.0), "C": ("insert", 3.0)}
    # self-diff is empty
    assert cat.changes_between("m", g2, g2).count() == 0


def test_append_race_preserves_rival_files(spark, tmp_path):
    """Regression (review finding): a rival append committing between
    our base read and our commit must either land in our base or force
    a retry — its files may never silently drop from later manifests."""
    root = str(tmp_path / "race2")
    a = Catalog(spark, root, commit_mode="filelist")
    a.create("m", SCHEMA, None, ["ticker", "date"], mode="replace")
    b = Catalog(spark, root, commit_mode="filelist")

    real_next = a._next_gen
    fired = {"done": False}

    def racing_next(name):
        # rival commits AFTER our target is pinned: we must collide+retry
        target = real_next(name)
        if not fired["done"]:
            fired["done"] = True
            b.insert("m", _rows(spark, [("R", D1, 7.0)]))
        return target

    a._next_gen = racing_next
    a.insert("m", _rows(spark, [("A", D1, 1.0)]))
    a._next_gen = real_next
    assert _state(a, "m") == [("A", 1.0), ("R", 7.0)]  # both appends survive


def test_scan_pruned_numeric_stats_not_lexicographic(spark, tmp_path):
    """Regression (review finding): min/max must be computed on the
    native type — string-side extremes invert ranges like [10, 2] and
    silently prune matching files."""
    cat = Catalog(spark, str(tmp_path / "lex"), commit_mode="filelist")
    cat.create("px", SCHEMA, ["year"], ["ticker", "date"], mode="replace")
    lo = dt.date(999, 1, 2)    # 3-digit year: '999' > '1000' as strings
    hi = dt.date(1000, 1, 2)
    cat.insert("px", _rows(spark, [("A", lo, 1.0), ("B", hi, 2.0)]))
    got = cat.scan_pruned("px", year=1000)
    assert [r["ticker"] for r in got.collect()] == ["B"]


def _rename_table(spark, root, keys):
    """A table written by a rename-mode catalog: hive layout when
    partitioned, so ``year`` lives in the dir names only."""
    old = Catalog(spark, root)
    old.create("px", SCHEMA, keys, ["ticker", "date"], mode="replace")
    old.insert("px", _rows(spark, [("A", D1, 1.0), ("B", D2, 2.0)]))
    old.insert("px", _rows(spark, [("C", D1, 3.0)]))
    return old


def _years(cat):
    return sorted((r["ticker"], r["year"], r["close"]) for r in cat.table("px").collect())


def test_filelist_reopens_legacy_rename_table(spark, tmp_path):
    """convert_to_filelist adopts an unpartitioned rename-mode table
    into the log as generation 0: its rows survive, a fresh reader
    agrees, the plain dir is gone, a second call is a no-op and later
    inserts append. A rename-mode catalog cannot convert."""
    root = str(tmp_path / "mig")
    old = _rename_table(spark, root, None)
    with pytest.raises(ValueError, match="requires commit_mode='filelist'"):
        old.convert_to_filelist("px")
    fl = Catalog(spark, root, commit_mode="filelist", time_travel=5)
    fl.convert_to_filelist("px")
    assert not os.path.exists(os.path.join(root, "px"))
    assert [h["generation"] for h in fl.history("px")] == [0]
    want = [("A", 2024, 1.0), ("B", 2025, 2.0), ("C", 2024, 3.0)]
    assert _years(fl) == want
    assert _years(Catalog(spark, root, commit_mode="filelist")) == want
    fl.convert_to_filelist("px")  # already in the log: a no-op
    assert [h["generation"] for h in fl.history("px")] == [0]
    fl.insert("px", _rows(spark, [("D", D2, 4.0)]))
    want.append(("D", 2025, 4.0))
    assert _years(Catalog(spark, root, commit_mode="filelist")) == want


def test_filelist_migration_materializes_partition_columns(spark, tmp_path):
    """Converting a hive-partitioned rename-mode table must keep its
    partition-column values: the old layout stores them in dir names
    only, so the conversion writes them INTO the data. Referencing the
    files directly would surface year=NULL, and the next rewrite would
    make that loss permanent."""
    root = str(tmp_path / "migp")
    _rename_table(spark, root, ["year"])
    fl = Catalog(spark, root, commit_mode="filelist")
    fl.convert_to_filelist("px")
    assert not os.path.exists(os.path.join(root, "px"))
    want = [("A", 2024, 1.0), ("B", 2025, 2.0), ("C", 2024, 3.0)]
    assert _years(fl) == want
    fl.rewrite("px", lambda df: df)
    assert _years(fl) == want
    assert _years(Catalog(spark, root, commit_mode="filelist")) == want


def test_scan_pruned_legacy_table_falls_back_to_full_scan(spark, tmp_path):
    """The name is historical: no fallback exists any more. scan_pruned
    on a rename-mode table reopened as filelist must never return an
    empty frame for a table that holds rows: before conversion it
    raises the convert error, after it it prunes the converted files
    to the matching rows."""
    root = str(tmp_path / "migs")
    _rename_table(spark, root, ["year"])
    fl = Catalog(spark, root, commit_mode="filelist")
    with pytest.raises(LookupError, match="convert_to_filelist"):
        fl.scan_pruned("px", year=2024)
    fl.convert_to_filelist("px")
    got = fl.scan_pruned("px", year=2024)
    assert sorted(r["ticker"] for r in got.collect()) == ["A", "C"]


def test_legacy_filelist_compact_sees_plain_dir_files(spark, tmp_path):
    """The name is historical: filelist never reads the plain dir now.
    data_files() on a rename-mode table reopened as filelist refuses
    until conversion; afterwards data_files()/compact() report and
    compact the converted files together with later appends."""
    root = str(tmp_path / "legc")
    _rename_table(spark, root, None)
    fl = Catalog(spark, root, commit_mode="filelist", time_travel=5)
    with pytest.raises(LookupError, match="convert_to_filelist"):
        fl.data_files("px")
    fl.convert_to_filelist("px")
    fl.insert("px", _rows(spark, [("D", D2, 4.0)]))
    assert len(fl.data_files("px")) > 1
    assert fl.compact("px", target_file_bytes=1 << 30)["files_after"] == 1
    assert _years(fl) == [
        ("A", 2024, 1.0), ("B", 2025, 2.0), ("C", 2024, 3.0), ("D", 2025, 4.0)
    ]
    assert fl.history("px")[0]["generation"] == 0


def test_convert_to_filelist_recommits_plain_dir_references(spark, tmp_path):
    """Older versions adopted an unpartitioned rename-mode table on its
    first filelist append by listing its plain-dir files in the
    manifest. Such a log is refused like an unconverted table;
    convert_to_filelist re-commits its rows before it deletes the
    plain dir, and later merges and upserts work."""
    root = str(tmp_path / "refs")
    _rename_table(spark, root, None)
    fl = Catalog(spark, root, commit_mode="filelist", time_travel=5)
    plain = sorted(
        "px/" + os.path.basename(f) for f in _glob.glob(os.path.join(root, "px", "*.parquet"))
    )
    fl._commit_manifest("px", 0, files=plain, file_stats={})
    fl.insert("px", _rows(spark, [("D", D2, 4.0)]))  # a delta on top
    batch = _rows(spark, [("A", D1, 9.0)])
    for fn in (lambda: fl.table("px"), lambda: fl.merge("px", batch)):
        with pytest.raises(LookupError, match="convert_to_filelist"):
            fn()
    assert fl._current_gen("px") == 1
    fl.convert_to_filelist("px")
    assert not os.path.exists(os.path.join(root, "px"))
    assert not fl._fl_lists_plain_dir("px", fl._fl_manifest_files("px", 2))
    with pytest.raises(LookupError, match="convert_to_filelist"):
        fl.table_at("px", 1)
    want = [("A", 1.0), ("B", 2.0), ("C", 3.0), ("D", 4.0)]
    assert _state(Catalog(spark, root, commit_mode="filelist"), "px") == want
    fl.merge("px", batch)
    fl.upsert("px", _rows(spark, [("B", D2, 8.0), ("B", D2, 8.0)]))
    want = [("A", 9.0), ("B", 8.0), ("C", 3.0), ("D", 4.0)]
    assert _state(Catalog(spark, root, commit_mode="filelist"), "px") == want


def test_filelist_refuses_rename_table_until_converted(spark, tmp_path):
    """A rename-mode table reopened as filelist is not in the log:
    every operation raises one error naming convert_to_filelist, and
    none of them leaves a manifest or a staged batch behind."""
    root = str(tmp_path / "ref")
    old = _rename_table(spark, root, ["year"])
    fl = Catalog(spark, root, commit_mode="filelist")
    batch = _rows(spark, [("A", D1, 9.0)])
    ops = {
        "table": lambda: fl.table("px"),
        "insert": lambda: fl.insert("px", batch),
        "upsert": lambda: fl.upsert("px", batch),
        "merge": lambda: fl.merge("px", batch),
        "delete_matching": lambda: fl.delete_matching("px", batch, "ticker"),
        "scan_pruned": lambda: fl.scan_pruned("px", year=2024),
        "data_files": lambda: fl.data_files("px"),
        "compact": lambda: fl.compact("px"),
        "optimize": lambda: fl.optimize("px"),
    }
    data = os.path.join(root, "px.data")
    for op, fn in ops.items():
        with pytest.raises(LookupError, match="convert_to_filelist"):
            fn()
        assert not os.path.exists(os.path.join(root, "px._manifest")), op
        assert not os.path.exists(data) or not os.listdir(data), op
    assert sorted(r["ticker"] for r in old.table("px").collect()) == ["A", "B", "C"]


def test_filelist_create_crash_window(spark, tmp_path):
    """create() registers the table, then commits generation 0. A
    crash in between leaves a registered table with no manifest: it
    reads as empty and accepts every write. A torn 0.json burns the
    first number, and the first commit must still be a checkpoint —
    a delta with no checkpoint below it would never resolve."""
    import shutil

    root = str(tmp_path / "cw")
    cat = Catalog(spark, root, commit_mode="filelist")
    names = ("ins", "ups", "mrg", "torn_ins", "torn_mrg")
    for n in names:
        cat.create(n, SCHEMA, ["year"], ["ticker", "date"], mode="replace")
        shutil.rmtree(os.path.join(root, f"{n}._manifest"))
        shutil.rmtree(os.path.join(root, f"{n}.data"))
    for n in ("torn_ins", "torn_mrg"):
        os.makedirs(os.path.join(root, f"{n}._manifest"))
        with open(os.path.join(root, f"{n}._manifest", "0.json"), "w") as f:
            f.write('{"generation": ')
    cat._fl_cache.clear()
    assert cat.table("ins").count() == 0
    assert cat.data_files("ins") == []
    batch = _rows(spark, [("A", D1, 1.0), ("B", D2, 2.0)])
    cat.insert("ins", batch)
    cat.upsert("ups", batch)
    cat.merge("mrg", batch)
    cat.insert("torn_ins", batch)
    cat.merge("torn_mrg", batch)
    fresh = Catalog(spark, root, commit_mode="filelist")
    for n in names:
        assert _state(fresh, n) == [("A", 1.0), ("B", 2.0)], n
    for n in ("torn_ins", "torn_mrg"):
        assert cat._current_gen(n) == 1
        assert cat._is_checkpoint(cat._read_manifest(n, 1)), n


def test_convert_to_filelist_race_has_one_winner(spark, tmp_path):
    """Two converters racing for generation 0: exactly one commits;
    the loser raises ConcurrentWriteError and deletes its staged
    batch."""
    from nt_data_pipelines_spark.catalog import ConcurrentWriteError

    root = str(tmp_path / "race")
    _rename_table(spark, root, None)
    a = Catalog(spark, root, commit_mode="filelist")
    b = Catalog(spark, root, commit_mode="filelist")
    real_commit = a._commit_manifest

    def racing_commit(name, gen, **kw):
        b.convert_to_filelist(name)  # the rival commits gen 0 first
        return real_commit(name, gen, **kw)

    a._commit_manifest = racing_commit
    with pytest.raises(ConcurrentWriteError):
        a.convert_to_filelist("px")
    del a._commit_manifest
    assert a._manifest_gens("px") == [0]
    assert len(os.listdir(os.path.join(root, "px.data"))) == 1  # the winner's
    assert a.vacuum("px", older_than_hours=0) == []
    assert not os.path.exists(os.path.join(root, "px"))
    assert _state(a, "px") == [("A", 1.0), ("B", 2.0), ("C", 3.0)]


def test_changes_between_null_key_rows(spark, tmp_path):
    """Regression (review finding): a legitimately-NULL key row present
    unchanged in both snapshots is NOT a change."""
    cat = Catalog(spark, str(tmp_path / "nullk"), commit_mode="filelist", time_travel=3)
    cat.create("m", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert("m", spark.createDataFrame([(None, D1, 2024, 1.0)], SCHEMA))
    cat.merge("m", _rows(spark, [("B", D2, 2.0)]))
    hist = [h["generation"] for h in cat.history("m")]
    feed = cat.changes_between("m", hist[-2], hist[-1]).collect()
    assert [(r["ticker"], r["_change_type"]) for r in feed] == [("B", "insert")]


def test_filelist_compact_and_zorder_preserve_layout(spark, tmp_path):
    """Regression (advice, low): maintenance rewrites must DELIVER
    their layout under filelist mode — the write path's default
    partition-key reclustering used to discard compact's computed file
    count and optimize_layout's z-order clustering."""
    cat = Catalog(spark, str(tmp_path / "fl"), commit_mode="filelist")
    cat.create("px", SCHEMA, ["year"], ["ticker", "date"], mode="replace")
    # two years across several small batches -> several files
    for i in range(3):
        cat.insert("px", _rows(spark, [(f"T{i}", D1, float(i)), (f"U{i}", D2, float(i))]))
    assert len(cat.data_files("px")) > 1
    out = cat.compact("px", target_file_bytes=1 << 30)
    # old behavior: repartitionByRange(year) -> one file PER YEAR (2)
    assert out["files_after"] == 1
    assert cat.table("px").count() == 6
    # z-order into an explicit file count on a single-year table:
    # old behavior collapses it back to 1 file (one year)
    cat2 = Catalog(spark, str(tmp_path / "flz"), commit_mode="filelist")
    cat2.create("pz", SCHEMA, ["year"], ["ticker", "date"], mode="replace")
    cat2.insert(
        "pz", _rows(spark, [(f"T{i}", D1, float(i)) for i in range(64)])
    )
    cat2.optimize_layout("pz", ["close"], num_files=2, bits=4)
    assert len(cat2.data_files("pz")) == 2
    assert cat2.table("pz").count() == 64


def test_partially_gcd_snapshot_reported_unreadable(spark, tmp_path):
    """Regression (advice, low): GC deletes per-FILE, so a generation
    whose FIRST file is shared with the current generation but whose
    unique files were collected must be reported unreadable (history
    excludes it, table_at raises LookupError) — not fail mid-scan with
    a raw path-not-found."""
    root = str(tmp_path / "gc")
    cat = Catalog(spark, root, commit_mode="filelist")  # time_travel=0
    cat.create("m", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert("m", _rows(spark, [("A", D1, 1.0)]))   # g1: [a]
    cat.insert("m", _rows(spark, [("B", D2, 2.0)]))   # g2: [a, b]
    g1_files = cat._fl_manifest_files("m", 1)
    uniques = [f for f in cat._fl_manifest_files("m", 2) if f not in g1_files]
    assert uniques
    # current generation keeps g1's files but none of g2's unique ones
    # (the shared-first-file shape)
    cat._commit_manifest("m", 3, files=list(g1_files))
    for b in uniques:  # GC of every older-only file
        os.remove(os.path.join(root, b))
    gens = [h["generation"] for h in cat.history("m")]
    assert 2 not in gens and {1, 3} <= set(gens)
    with pytest.raises(LookupError, match="GC'd"):
        cat.table_at("m", 2)
    assert [r["ticker"] for r in cat.table_at("m", 1).collect()] == ["A"]


def test_scan_pruned_range_predicates_skip_files(spark, tmp_path):
    """Range predicates (between/>=/<=/</>) prune by min-max interval
    overlap and return exactly the full-scan-filter answer."""
    cat = Catalog(spark, str(tmp_path / "rng"), commit_mode="filelist")
    cat.create("px", SCHEMA, ["year"], ["ticker", "date"], mode="replace")
    for y in (2023, 2024, 2025):  # one batch (=> file set) per year
        d = dt.date(y, 6, 1)
        cat.insert("px", _rows(spark, [(f"T{y}", d, 1.0), (f"U{y}", d, 2.0)]))
    n_all = len(cat.data_files("px"))

    def check(pred, want_years):
        got = cat.scan_pruned("px", year=pred)
        tickers = sorted(r["ticker"] for r in got.collect())
        want = sorted(f"{p}{y}" for y in want_years for p in "TU")
        assert tickers == want, (pred, tickers)
        return len(got.inputFiles())

    assert check(("between", 2024, 2025), [2024, 2025]) < n_all
    assert check((">=", 2025), [2025]) < n_all
    assert check(("<", 2024), [2023]) < n_all
    # only the create-time empty batch (no stats -> conservatively
    # kept) may survive the prune
    assert check((">", 2025), []) <= 1
    assert check(("<=", 2023), [2023]) < n_all
    assert check(2024, [2024]) < n_all
    with pytest.raises(ValueError, match="bad scan_pruned predicate"):
        cat.scan_pruned("px", year=("~", 1))


def test_range_pruning_soundness_property():
    """Property fuzz (no Spark needed): for any file min/max and any
    predicate, a value inside the file's range that satisfies the
    predicate implies the file is NOT pruned — pruning may only ever
    keep extra files, never drop a matching one. Runs under BOTH
    comparator families: 'num' (numeric columns: int values, numeric
    file ranges) and 'str' (string columns: numeric-LOOKING strings
    ordered lexicographically, where '10' < '9' — the case a numeric
    comparator would misprune)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    vals = st.integers(min_value=-50, max_value=50)
    ops = st.sampled_from([">=", ">", "<=", "<", "between", "eq"])

    @settings(max_examples=500, deadline=None)
    @given(
        fmin=vals, fmax=vals, probe=vals, op=ops, a=vals, b=vals,
        kind=st.sampled_from(["num", "str"]),
    )
    def check(fmin, fmax, probe, op, a, b, kind):
        conv = (lambda v: v) if kind == "num" else str
        fmin, fmax, probe, a, b = map(conv, (fmin, fmax, probe, a, b))
        if fmin > fmax:  # file range in the COLUMN's order
            fmin, fmax = fmax, fmin
        if op == "eq":
            spec = a
        elif op == "between":
            spec = ("between", min(a, b), max(a, b))
        else:
            spec = (op, a)
        bounds = Catalog._pred_bounds(spec)
        lo, hi, lo_s, hi_s = bounds

        def matches(v):
            return (
                lo is None or (v > lo if lo_s else v >= lo)
            ) and (hi is None or (v < hi if hi_s else v <= hi))

        rng = [str(fmin), str(fmax)]
        if fmin <= probe <= fmax and matches(probe):
            assert Catalog._range_overlaps(rng, bounds, kind), (rng, spec, probe, kind)

    check()


def test_scan_pruned_string_column_is_lexicographic(spark, tmp_path):
    """Regression (review finding): a STRING column holding numeric-
    looking values records lexicographic min/max ('10' < '9'), and the
    pruning comparator must order the same way as the row filter —
    numeric comparison would prune the file that holds the match."""
    cat = Catalog(spark, str(tmp_path / "strp"), commit_mode="filelist")
    cat.create("px", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert("px", _rows(spark, [("9", D1, 1.0), ("10", D1, 2.0)]))
    got = cat.scan_pruned("px", ticker="9")
    assert [r["close"] for r in got.collect()] == [1.0]
    rng = cat.scan_pruned("px", ticker=("<=", "2"))
    assert sorted(r["ticker"] for r in rng.collect()) == ["10"]  # lexicographic
    # timestamp-style: date columns prune on parsed order
    d = cat.scan_pruned("px", date=("between", D1, D1))
    assert sorted(r["ticker"] for r in d.collect()) == ["10", "9"]


def test_filelist_optimize_rewrites_only_dirty_files(spark, tmp_path):
    """Incremental OPTIMIZE (Delta shape): only files holding a copy of
    a duplicated key are rewritten; clean files carry over BY
    REFERENCE, and retained snapshots still read the pre-optimize
    state through the shared files."""
    root = str(tmp_path / "incr")
    cat = Catalog(spark, root, commit_mode="filelist", time_travel=3)
    cat.create("px", SCHEMA, None, ["ticker", "date"], mode="replace")
    for i in range(6):
        cat.insert("px", _rows(spark, [(f"T{i}", D1, float(i))]))
    cat.insert("px", _rows(spark, [("T0", D1, 99.0)]))  # duplicates T0
    gen_before = cat._current_gen("px")
    before = set(cat._fl_manifest_files("px", gen_before))
    tagged = cat._fl_read("px").withColumn("__f", F.input_file_name())
    dirty = {
        cat._abs_to_rel("px", r["__f"])
        for r in tagged.filter(F.col("ticker") == "T0")
        .select("__f").distinct().collect()
    }
    assert dirty and len(dirty) < len(before)
    cat.optimize("px")
    after = set(cat._fl_manifest_files("px", cat._current_gen("px")))
    assert before - dirty <= after          # clean files: carried by reference
    assert not (dirty & after)              # dirty files: replaced
    assert _state(cat, "px") == [("T0", 99.0)] + [
        (f"T{i}", float(i)) for i in range(1, 6)
    ]
    # the retained pre-optimize snapshot still reads BOTH T0 copies
    old = cat.table_at("px", gen_before)
    assert sorted(r["close"] for r in old.filter(F.col("ticker") == "T0").collect()) == [0.0, 99.0]


def test_filelist_optimize_occ_retry_preserves_rival_append(spark, tmp_path):
    """An append landing between optimize's dup scan and its commit
    forces an OCC retry; both the dedup and the rival's rows survive."""
    root = str(tmp_path / "incr_occ")
    a = Catalog(spark, root, commit_mode="filelist")
    a.create("px", SCHEMA, None, ["ticker", "date"], mode="replace")
    a.insert("px", _rows(spark, [("A", D1, 1.0)]))
    a.insert("px", _rows(spark, [("A", D1, 2.0)]))  # dup
    b = Catalog(spark, root, commit_mode="filelist")

    real_commit = a._commit_manifest
    fired = {"done": False}

    def racing_commit(name, gen, **kw):
        if not fired["done"]:
            fired["done"] = True
            b.insert("px", _rows(spark, [("R", D2, 7.0)]))  # rival wins the gen
        return real_commit(name, gen, **kw)

    a._commit_manifest = racing_commit
    a.optimize("px")
    a._commit_manifest = real_commit
    assert _state(a, "px") == [("A", 2.0), ("R", 7.0)]
    fresh = Catalog(spark, root, commit_mode="filelist")
    assert _state(fresh, "px") == [("A", 2.0), ("R", 7.0)]


def test_filelist_optimize_mostly_dirty_falls_back_to_full_rewrite(spark, tmp_path):
    """When most files hold duplicates the surgical path degenerates —
    optimize takes the clustered full rewrite instead (and the result
    is identical)."""
    cat = Catalog(spark, str(tmp_path / "md"), commit_mode="filelist")
    cat.create("px", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert("px", _rows(spark, [("A", D1, 1.0), ("B", D2, 2.0)]))
    cat.insert("px", _rows(spark, [("A", D1, 3.0), ("B", D2, 4.0)]))  # all dup
    cat.optimize("px")
    assert _state(cat, "px") == [("A", 3.0), ("B", 4.0)]


def test_filelist_merge_rewrites_only_matched_files(spark, tmp_path):
    """File-surgical MERGE: a CDC batch touching one key leaves every
    other file referenced untouched; inserts/updates/deletes all land
    in one commit."""
    root = str(tmp_path / "smerge")
    cat = Catalog(spark, root, commit_mode="filelist", time_travel=3)
    cat.create("px", SCHEMA, None, ["ticker", "date"], mode="replace")
    for i in range(5):
        cat.insert("px", _rows(spark, [(f"T{i}", D1, float(i))]))
    gen_before = cat._current_gen("px")
    before = set(cat._fl_manifest_files("px", gen_before))
    tagged = cat._fl_read("px").withColumn("__f", F.input_file_name())
    dirty = {
        cat._abs_to_rel("px", r["__f"])
        for r in tagged.filter(F.col("ticker").isin("T1", "T2"))
        .select("__f").distinct().collect()
    }
    wide = T.StructType(list(SCHEMA.fields) + [T.StructField("deleted", T.BooleanType())])
    cat.merge(
        "px",
        spark.createDataFrame(
            [("T1", D1, 2024, 11.0, False),   # update
             ("T2", D1, 2024, 0.0, True),     # delete
             ("N", D2, 2025, 9.0, False)],    # insert
            wide,
        ),
        delete_col="deleted",
    )
    after = set(cat._fl_manifest_files("px", cat._current_gen("px")))
    assert before - dirty <= after            # clean files by reference
    assert not (dirty & after)                # matched files replaced
    assert _state(cat, "px") == [
        ("N", 9.0), ("T0", 0.0), ("T1", 11.0), ("T3", 3.0), ("T4", 4.0)
    ]
    # pre-merge snapshot intact through shared files
    assert _state_at(cat, "px", gen_before) == [
        ("T0", 0.0), ("T1", 1.0), ("T2", 2.0), ("T3", 3.0), ("T4", 4.0)
    ]


def _state_at(cat, name, gen):
    return sorted(
        (r["ticker"], r["close"]) for r in cat.table_at(name, gen).collect()
    )


def test_filelist_insert_only_merge_is_a_plain_append(spark, tmp_path):
    """A merge whose source matches nothing must not rewrite ANY file —
    it commits one new batch referencing everything else."""
    cat = Catalog(spark, str(tmp_path / "imerge"), commit_mode="filelist")
    cat.create("px", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert("px", _rows(spark, [("A", D1, 1.0)]))
    before = set(cat._fl_manifest_files("px", cat._current_gen("px")))
    cat.merge("px", _rows(spark, [("B", D2, 2.0)]))
    after = set(cat._fl_manifest_files("px", cat._current_gen("px")))
    assert before <= after and len(after) > len(before)
    assert _state(cat, "px") == [("A", 1.0), ("B", 2.0)]


def test_filelist_delete_matching_is_file_surgical(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "sdel"), commit_mode="filelist")
    cat.create("px", SCHEMA, None, ["ticker", "date"], mode="replace")
    for i in range(4):
        cat.insert("px", _rows(spark, [(f"T{i}", D1, float(i))]))
    before = set(cat._fl_manifest_files("px", cat._current_gen("px")))
    cat.delete_matching(
        "px", cat.table("px").filter(F.col("ticker") == "T2"), on=["ticker", "date"]
    )
    after = set(cat._fl_manifest_files("px", cat._current_gen("px")))
    assert _state(cat, "px") == [("T0", 0.0), ("T1", 1.0), ("T3", 3.0)]
    assert len(before & after) >= len(before) - 2  # untouched files shared
    # deleting nothing is a no-op commit-wise
    gen = cat._current_gen("px")
    cat.delete_matching(
        "px", cat.table("px").filter(F.col("ticker") == "ZZZ"), on=["ticker", "date"]
    )
    assert cat._current_gen("px") == gen


def test_zorder_clustering_composes_with_file_skipping(spark, tmp_path):
    """Stats are recorded for leading scalar columns, not just
    partition keys — so OPTIMIZE ZORDER BY close + scan_pruned on
    close actually skips files (Delta's dataSkippingNumIndexedCols
    model)."""
    cat = Catalog(spark, str(tmp_path / "zskip"), commit_mode="filelist")
    cat.create("px", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert(
        "px", _rows(spark, [(f"T{i:03d}", D1, float(i)) for i in range(256)])
    )
    cat.optimize_layout("px", ["close"], num_files=8, bits=8)
    n_files = len(cat.data_files("px"))
    assert n_files == 8
    got = cat.scan_pruned("px", close=("between", 10.0, 20.0))
    want = cat.table("px").filter((F.col("close") >= 10.0) & (F.col("close") <= 20.0))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # the clustered layout lets the range hit a strict subset of files
    assert 0 < len(got.inputFiles()) < n_files
    # equality on a non-partition indexed column prunes too
    one = cat.scan_pruned("px", close=100.0)
    assert [r["ticker"] for r in one.collect()] == ["T100"]
    assert len(one.inputFiles()) < n_files


def test_filelist_optimize_fallback_keeps_pinned_target(spark, tmp_path):
    """Regression (review finding): the mostly-dirty fallback must
    commit at the generation pinned BEFORE the base read — re-pinning
    after a rival's append would silently supersede the rival's
    committed batch (permanent loss). With the pin kept, the rival's
    commit collides ours and the OCC retry recomputes with its rows."""
    root = str(tmp_path / "pin")
    a = Catalog(spark, root, commit_mode="filelist")
    a.create("px", SCHEMA, None, ["ticker", "date"], mode="replace")
    a.insert("px", _rows(spark, [("A", D1, 1.0)]))
    a.insert("px", _rows(spark, [("A", D1, 2.0)]))  # all files dirty
    b = Catalog(spark, root, commit_mode="filelist")

    real_batch = a._fl_write_batch
    fired = {"done": False}

    def racing_batch(name, df, cluster=True):
        if not fired["done"]:
            fired["done"] = True
            # rival append lands between our base read and our commit
            b.insert("px", _rows(spark, [("R", D2, 7.0)]))
        return real_batch(name, df, cluster)

    a._fl_write_batch = racing_batch
    a.optimize("px")
    a._fl_write_batch = real_batch
    assert _state(a, "px") == [("A", 2.0), ("R", 7.0)]
    fresh = Catalog(spark, root, commit_mode="filelist")
    assert _state(fresh, "px") == [("A", 2.0), ("R", 7.0)]


def test_scan_pruned_nan_stats_are_conservative(spark, tmp_path):
    """Regression (review finding): a file holding a NaN records
    max='NaN' (NaN sorts above all numbers), and NaN comparisons are
    all False — pruning must KEEP such files, not drop their matching
    numeric rows."""
    cat = Catalog(spark, str(tmp_path / "nanp"), commit_mode="filelist")
    cat.create("px", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert("px", _rows(spark, [("A", D1, 7.0), ("B", D1, float("nan"))]))
    got = cat.scan_pruned("px", close=(">=", 5.0))
    assert "A" in {r["ticker"] for r in got.collect()}
    with pytest.raises(ValueError, match="None predicate"):
        cat.scan_pruned("px", ticker=None)


def test_overwrite_insert_goes_through_crash_safe_rewrite(spark, tmp_path):
    """Regression (review finding): insert(mode='overwrite') must not
    raw-Overwrite the live dir (rename mode) — both modes route through
    the full-rewrite commit, and filelist's old snapshots stay intact."""
    for mode, tt in (("rename", 0), ("filelist", 2)):
        cat = Catalog(spark, str(tmp_path / f"ow_{mode}"), commit_mode=mode,
                      time_travel=tt)
        cat.create("m", SCHEMA, None, ["ticker", "date"], mode="replace")
        cat.insert("m", _rows(spark, [("A", D1, 1.0)]))
        if mode != "rename":
            cat.rewrite("m", lambda df: df)  # pin a snapshot generation
            g = cat.history("m")[-1]["generation"]
        cat.insert("m", _rows(spark, [("B", D2, 2.0)]), mode="overwrite")
        assert _state(cat, "m") == [("B", 2.0)], mode
        if mode != "rename":
            assert _state_at(cat, "m", g) == [("A", 1.0)], mode  # snapshot intact


def test_reserved_table_names_rejected(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "nm"))
    for bad in ("t.old", "t.g1", "t.data", "a/b", "x._manifest"):
        with pytest.raises(ValueError, match="invalid table name"):
            cat.create(bad, SCHEMA, None, ["ticker"])


def test_readd_dropped_column_refused_until_rewrite(spark, tmp_path):
    """Regression (review finding): existing files still hold a
    dropped column's old values — re-adding the name would resurrect
    them (or brick scans on a type change). A full rewrite clears the
    tombstone."""
    cat = Catalog(spark, str(tmp_path / "dc"), commit_mode="filelist")
    cat.create("m", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert("m", _rows(spark, [("A", D1, 1.0)]))
    cat.drop_column("m", "close")
    with pytest.raises(ValueError, match="previously dropped"):
        cat.add_column("m", T.StructField("close", T.DoubleType(), True))
    cat.rewrite("m", lambda df: df)  # full rewrite clears the tombstone
    cat.add_column("m", T.StructField("close", T.DoubleType(), True))
    rows = cat.table("m").collect()
    assert [r["close"] for r in rows] == [None]  # files-surface-NULL holds


def test_change_feed_on_pre_optimize_append_generation(spark, tmp_path):
    """Regression (review finding): an append generation can hold
    several copies of a key (upsert = append + optimize); the change
    feed must diff the last-write-wins STATE, never multiply rows."""
    cat = Catalog(spark, str(tmp_path / "cdf2"), commit_mode="filelist",
                  time_travel=5)
    cat.create("m", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert("m", _rows(spark, [("A", D1, 1.0)]))
    g1 = cat.history("m")[-1]["generation"]
    cat.insert("m", _rows(spark, [("A", D1, 9.0)]))  # duplicate key, no optimize yet
    g2 = cat.history("m")[-1]["generation"]
    feed = cat.changes_between("m", g1, g2).collect()
    assert [(r["ticker"], r["_change_type"], r["close"]) for r in feed] == [
        ("A", "update", 9.0)
    ]


# ---- round-8 ADVICE fixes: unresolvable-gen reads + drop cache ----


def test_unresolvable_generation_raises_not_empty(spark, tmp_path):
    """An unresolvable current generation (checkpoint base GC'd /
    missing) must raise on READ paths exactly like the write paths do
    — an empty result here is a silently wrong answer, not a scan."""
    cat = Catalog(spark, str(tmp_path / "ur"), commit_mode="filelist")
    cat.create("px", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert("px", _rows(spark, [("A", D1, 1.0)]))
    cat.insert("px", _rows(spark, [("B", D2, 2.0)]))
    cat.insert("px", _rows(spark, [("C", D2, 3.0)]))
    # destroy the checkpoint base (gen 0) so deltas 1..2 have nothing
    # to replay from
    os.remove(os.path.join(cat._manifest_dir("px"), "0.json"))
    cat._fl_cache.clear()
    with pytest.raises(LookupError, match="cannot be resolved"):
        cat.table("px").collect()
    with pytest.raises(LookupError, match="cannot be resolved"):
        cat.scan_pruned("px", ticker="A").collect()
    with pytest.raises(LookupError, match="cannot be resolved"):
        cat.data_files("px")


def test_drop_invalidates_filelist_cache(spark, tmp_path):
    """Dropping and recreating a table restarts generations at 0 —
    stale (name, gen) cache entries must not serve the dropped table's
    file lists (they reference deleted files)."""
    cat = Catalog(spark, str(tmp_path / "dc"), commit_mode="filelist")
    cat.create("px", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert("px", _rows(spark, [("OLD", D1, 1.0)]))
    assert _state(cat, "px") == [("OLD", 1.0)]  # populates (px, 0) cache
    cat.drop("px")
    cat.create("px", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert("px", _rows(spark, [("NEW", D2, 9.0)]))
    assert _state(cat, "px") == [("NEW", 9.0)]


def test_gc_aborts_when_retained_generation_unresolvable(spark, tmp_path):
    """An unresolvable RETAINED generation must abort the GC sweep
    with a warning, not silently contribute an empty keep-set — a
    partial keep-set would let GC delete files that snapshot still
    references. No exception escapes: GC runs AFTER a successful
    commit, and a raise would make the committed write look failed
    (inviting a duplicating retry)."""
    import warnings as W

    root = str(tmp_path / "fl")
    cat = Catalog(spark, root, commit_mode="filelist", time_travel=2)
    cat.create("m", SCHEMA, None, ["ticker", "date"], mode="replace")
    for i, t in enumerate(["A", "B", "C"]):
        cat.insert("m", _rows(spark, [(t, D1, float(i))]))
    data_before = sorted(
        os.path.relpath(p, root)
        for p in _glob.glob(os.path.join(root, "m.data", "*", "*.parquet"))
    )
    # destroy the replay base: gens 1.. are deltas over checkpoint 0
    os.remove(os.path.join(root, "m._manifest", "0.json"))
    cat._fl_cache.clear()
    with W.catch_warnings(record=True) as rec:
        W.simplefilter("always")
        cat._fl_gc("m", cat._current_gen("m"))
    assert any("GC" in str(w.message) and "aborted" in str(w.message) for w in rec)
    # the aborted sweep deleted nothing — data files AND manifest log
    data_after = sorted(
        os.path.relpath(p, root)
        for p in _glob.glob(os.path.join(root, "m.data", "*", "*.parquet"))
    )
    assert data_after == data_before
    # the corruption stays loud where it belongs: on the read path
    with pytest.raises(LookupError):
        cat.table("m").collect()


def test_unverifiable_readability_raises_read_worded(spark, tmp_path):
    """Regression (review, r9): when a RETAINED generation is
    unresolvable, the GC keep-set — the files a pre-retention snapshot
    may still share — cannot be computed, so dropping its contribution
    WIDENS the doomed-probe set with files GC actually protects: the
    single probe can hit an existing file and declare the snapshot
    readable while its genuinely-collected files go unprobed (a false
    positive that fails mid-scan). Reading a pre-retention generation
    must instead raise a READ-worded LookupError."""
    root = str(tmp_path / "uv")
    cat = Catalog(spark, root, commit_mode="filelist", time_travel=1)
    cat.create("m", SCHEMA, None, ["ticker", "date"], mode="replace")
    for i, t in enumerate(["A", "B", "C"]):
        cat.insert("m", _rows(spark, [(t, D1, float(i))]))
    assert cat._current_gen("m") == 3  # retention window: gens >= 2
    # tear gen 2's manifest: a retained generation that no longer
    # resolves (read_manifest -> None -> resolve -> None)
    with open(os.path.join(root, "m._manifest", "2.json"), "w") as f:
        f.write('{"generation": ')
    cat._fl_cache.clear()
    with pytest.raises(LookupError, match="cannot verify"):
        cat.table_at("m", 1).collect()
    # a LISTING skips unverifiable generations instead of raising
    # (same treatment history gives the torn generation itself)
    gens = [h["generation"] for h in cat.history("m")]
    assert 1 not in gens and 2 not in gens
