"""Upsert's one rule: insert, then optimize — unless the base is empty.

``Catalog.upsert`` skips optimize only when the pre-insert base is
provably empty and the batch holds no duplicate primary key; every
other upsert runs the full optimize. These tests pin:

- the skip happening for a clean batch on an empty base, and NOT
  happening on a non-empty base or for a batch with internal
  duplicate PKs;
- byte-equivalence with the slow path (insert + optimize) — the insert
  is an untouched raw append, so all committed bytes are identical;
- raw-insert duplicates being resolved by the next upsert, and stale
  ``pk_clean`` entries left in the state file by older code being
  ignored;
- the race fallbacks: any commit that lands between the pre-insert
  check and the post-insert confirmation forces the full optimize, so
  a rival writer's duplicates still resolve.
"""

from __future__ import annotations

import datetime as dt
import json
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

MODES = ("rename", "filelist")


def _rows(spark, data):
    return spark.createDataFrame([(t, d, d.year, c) for t, d, c in data], SCHEMA)


def _content(cat, name):
    return sorted(
        (r["ticker"], str(r["date"]), r["year"], r["close"])
        for r in cat.table(name).collect()
    )


def _expected_lww_survivor(spark, data):
    """The close value optimize's window keeps for a same-seq dup set."""
    return (
        _rows(spark, data)
        .withColumn("h", F.xxhash64("ticker", "date", "year", "close"))
        .orderBy(F.desc("h"))
        .collect()[0]["close"]
    )


def _counting(monkey_target_list):
    orig = Catalog._optimize_once

    def wrapped(self, name, **kw):
        monkey_target_list.append(name)
        return orig(self, name, **kw)

    return orig, wrapped


@pytest.mark.parametrize("mode", MODES)
def test_clean_batches_skip_optimize(spark, tmp_path, mode):
    """Empty base + PK-unique batch skips optimize; the next clean
    upsert lands on a non-empty base and runs it exactly once."""
    cat = Catalog(spark, str(tmp_path / f"lk_{mode}"), commit_mode=mode)
    cat.create("px", SCHEMA, ["year"], ["ticker", "date"])
    calls: list[str] = []
    orig, wrapped = _counting(calls)
    Catalog._optimize_once = wrapped
    try:
        cat.upsert("px", _rows(spark, [("A", D1, 1.0), ("B", D2, 2.0)]))
        assert calls == [], "empty-base clean upsert must skip optimize"
        cat.upsert("px", _rows(spark, [("C", D1, 3.0)]))  # no collision
        assert calls == ["px"], "a non-empty base must run optimize once"
        assert _content(cat, "px") == sorted(
            [
                ("A", str(D1), D1.year, 1.0),
                ("B", str(D2), D2.year, 2.0),
                ("C", str(D1), D1.year, 3.0),
            ]
        )
    finally:
        Catalog._optimize_once = orig


def test_size_gate_routes_small_tables_to_full_optimize(spark, tmp_path):
    """A small non-empty table runs the classic full optimize on the
    next clean upsert. (The name predates the removal of the size gate
    that once made this routing decision; every non-empty base now
    takes it.)"""
    cat = Catalog(spark, str(tmp_path / "gate"), commit_mode="rename")
    cat.create("px", SCHEMA, ["year"], ["ticker", "date"])
    cat.upsert("px", _rows(spark, [("A", D1, 1.0)]))
    assert cat._upsert_empty_base_token("px") is None
    calls: list[str] = []
    orig, wrapped = _counting(calls)
    Catalog._optimize_once = wrapped
    try:
        cat.upsert("px", _rows(spark, [("B", D2, 2.0)]))
    finally:
        Catalog._optimize_once = orig
    assert calls == ["px"]
    assert _content(cat, "px") == sorted(
        [("A", str(D1), D1.year, 1.0), ("B", str(D2), D2.year, 2.0)]
    )


@pytest.mark.parametrize("mode", MODES)
def test_dirty_batches_run_full_optimize(spark, tmp_path, mode):
    """Internal batch dups on an empty base and batch-vs-existing
    collisions must both run the full optimize, with the same LWW
    survivors the slow path picks."""
    cat = Catalog(spark, str(tmp_path / f"d_{mode}"), commit_mode=mode)
    cat.create("px", SCHEMA, ["year"], ["ticker", "date"])
    calls: list[str] = []
    orig, wrapped = _counting(calls)
    Catalog._optimize_once = wrapped
    try:
        # internal dup into the EMPTY table -> probe dirty -> optimize
        dup_batch = [("A", D1, 1.0), ("A", D1, 9.0), ("B", D2, 2.0)]
        cat.upsert("px", _rows(spark, dup_batch))
        assert calls == ["px"], "internal batch dup must run optimize"
        exp_a = _expected_lww_survivor(spark, [("A", D1, 1.0), ("A", D1, 9.0)])
        assert [c for *_, c in _content(cat, "px")] == [exp_a, 2.0]
        # collision with an existing key -> non-empty base -> optimize,
        # later ingest seq wins
        cat.upsert("px", _rows(spark, [("A", D1, 5.0)]))
        assert calls == ["px", "px"]
        assert [c for *_, c in _content(cat, "px")] == [5.0, 2.0]
    finally:
        Catalog._optimize_once = orig


@pytest.mark.parametrize("mode", MODES)
def test_fastpath_equals_slow_path_content(spark, tmp_path, mode):
    """Same batches through upsert (empty-base probe, then optimize) vs
    insert+optimize: identical survivors."""
    b1 = [("A", D1, 1.0), ("A", D1, 9.0), ("A", D1, 4.5), ("B", D2, 2.0)]
    b2 = [("A", D1, 7.0), ("C", D2, 3.0)]
    fast = Catalog(spark, str(tmp_path / f"f_{mode}"), commit_mode=mode)
    fast.create("t", SCHEMA, ["year"], ["ticker", "date"])
    fast.upsert("t", _rows(spark, b1))
    fast.upsert("t", _rows(spark, b2))
    slow = Catalog(spark, str(tmp_path / f"s_{mode}"), commit_mode=mode)
    slow.create("t", SCHEMA, ["year"], ["ticker", "date"])
    for b in (b1, b2):
        slow.insert("t", _rows(spark, b))
        slow.optimize("t")
    assert _content(fast, "t") == _content(slow, "t")


@pytest.mark.parametrize("mode", ("rename", "filelist"))
def test_marker_invalidated_by_raw_insert(spark, tmp_path, mode):
    """A raw insert (no optimize) can leave duplicate keys in the
    table; the next upsert must resolve them. (The name predates the
    removal of the pk-clean markers this once exercised.)"""
    cat = Catalog(spark, str(tmp_path / f"inv_{mode}"), commit_mode=mode)
    cat.create("px", SCHEMA, ["year"], ["ticker", "date"])
    cat.upsert("px", _rows(spark, [("A", D1, 1.0)]))
    cat.insert("px", _rows(spark, [("D", D2, 4.0), ("D", D2, 4.5)]))  # raw dups

    calls: list[str] = []
    orig, wrapped = _counting(calls)
    Catalog._optimize_once = wrapped
    try:
        cat.upsert("px", _rows(spark, [("E", D1, 9.0)]))
    finally:
        Catalog._optimize_once = orig
    assert calls == ["px"], "the raw insert's dups need the full optimize"
    got = _content(cat, "px")
    assert [t for t, *_ in got] == ["A", "D", "E"], got  # D deduped


@pytest.mark.parametrize("mode", ("rename", "filelist"))
def test_stale_pk_clean_entry_is_ignored(spark, tmp_path, mode):
    """Older code recorded ``pk_clean`` markers in the state file. A
    marker that fingerprints the current state — and would have been
    trusted — while the table holds raw duplicates must be ignored:
    the upsert still dedups, and the entry is never re-written."""
    root = str(tmp_path / f"stale_{mode}")
    cat = Catalog(spark, root, commit_mode=mode)
    cat.create("px", SCHEMA, ["year"], ["ticker", "date"])
    cat.upsert("px", _rows(spark, [("A", D1, 1.0)]))
    cat.insert("px", _rows(spark, [("D", D2, 4.0), ("D", D2, 4.5)]))  # raw dups
    if mode == "filelist":
        stale = {"kind": "gen", "gen": cat._current_gen("px")}
    else:
        fs, p = cat._hfs(cat._path("px"))
        stale = {
            "kind": "dir",
            "files": sorted(f for f, _ in cat._list_parquet_recursive(fs, p)),
        }
    state_path = os.path.join(root, "_catalog.json")
    with open(state_path) as fh:
        state = json.load(fh)
    state["tables"]["px"]["pk_clean"] = stale
    with open(state_path, "w") as fh:
        json.dump(state, fh)

    reopened = Catalog(spark, root, commit_mode=mode)
    reopened.upsert("px", _rows(spark, [("E", D1, 9.0)]))
    got = _content(reopened, "px")
    assert [t for t, *_ in got] == ["A", "D", "E"], got  # D deduped
    with open(state_path) as fh:
        assert json.load(fh)["tables"]["px"]["pk_clean"] == stale


@pytest.mark.parametrize("mode", MODES)
def test_rival_append_mid_upsert_falls_back(spark, tmp_path, mode):
    """A rival batch committed between the pre-insert check and the
    post-insert confirmation must force the full optimize — its rows
    are LWW-deduped against ours, never left as silent duplicates."""
    root = str(tmp_path / f"race_{mode}")
    a = Catalog(spark, root, commit_mode=mode)
    a.create("m", SCHEMA, None, ["ticker", "date"])
    b = Catalog(spark, root, commit_mode=mode)

    real_write = Catalog._write
    fired = {"done": False}
    calls: list[str] = []
    orig, wrapped = _counting(calls)
    Catalog._optimize_once = wrapped

    def racing_write(self, name, df, wmode):
        real_write(self, name, df, wmode)
        # rival lands immediately after OUR write, before upsert's
        # base-undisturbed check (self is a; b is untouched)
        if self is a and not fired["done"]:
            fired["done"] = True
            b.insert("m", _rows(spark, [("A", D1, 77.0)]))

    Catalog._write = racing_write
    try:
        a.upsert("m", _rows(spark, [("A", D1, 1.0), ("B", D2, 2.0)]))
    finally:
        Catalog._write = real_write
        Catalog._optimize_once = orig
    assert calls == ["m"], "the race must force the full optimize"
    got = _content(a, "m")
    # exactly one row per PK. NOTE: a and b are separate Catalog
    # instances that each loaded next_seq before the race, so both
    # writes carry the SAME ingest seq (pre-existing multi-writer
    # property) and LWW falls to its content-hash tiebreak.
    assert [t for t, *_ in got] == ["A", "B"]
    exp_a = _expected_lww_survivor(spark, [("A", D1, 1.0), ("A", D1, 77.0)])
    assert got[0][3] == exp_a, "survivor must be the LWW content-hash pick"


def test_fastpath_filelist_gen_check_airtight(spark, tmp_path):
    """Filelist mode: the skip decision is generation-based — our
    append landing past base+1 (rival commit or burned gen) must fall
    back to optimize even when no data file betrays the rival."""
    root = str(tmp_path / "flgen")
    cat = Catalog(spark, root, commit_mode="filelist")
    cat.create("m", SCHEMA, None, ["ticker", "date"])
    token = cat._upsert_empty_base_token("m")
    assert token is not None and token[0] == "gen"
    cat.insert("m", _rows(spark, [("A", D1, 1.0)]))
    assert cat._upsert_base_undisturbed("m", token)
    # a second commit advances the gen: the same token must now refuse
    cat.insert("m", _rows(spark, [("B", D2, 2.0)]))
    assert not cat._upsert_base_undisturbed("m", token)


def test_narrowed_filelist_rival_mid_probe_falls_back(spark, tmp_path):
    """Filelist, empty-base fast path: a rival commit between the
    undisturbed check and the skip decision breaks the expected-
    generation re-check; the upsert must rerun the FULL optimize so
    the rival's duplicates resolve."""
    root = str(tmp_path / "nr_race")
    a = Catalog(spark, root, commit_mode="filelist")
    a.create("m", SCHEMA, None, ["ticker", "date"])

    real_undisturbed = Catalog._upsert_base_undisturbed
    fired = {"done": False}
    calls: list[str] = []
    orig, wrapped = _counting(calls)
    Catalog._optimize_once = wrapped

    def racing_check(self, name, token):
        ok = real_undisturbed(self, name, token)
        # rival lands AFTER the check passes, BEFORE the skip decision;
        # constructed now, so it stamps a DIFFERENT ingest seq and the
        # batch probe never sees its rows
        if self is a and ok and not fired["done"]:
            fired["done"] = True
            b = Catalog(spark, root, commit_mode="filelist")
            b.insert("m", _rows(spark, [("X", D2, 8.0), ("X", D2, 8.5)]))
        return ok

    Catalog._upsert_base_undisturbed = racing_check
    try:
        a.upsert("m", _rows(spark, [("B", D2, 2.0)]))
    finally:
        Catalog._upsert_base_undisturbed = real_undisturbed
        Catalog._optimize_once = orig
    assert calls == ["m"], "rival mid-probe must force the full optimize"
    got = _content(a, "m")
    assert [t for t, *_ in got] == ["B", "X"], got  # X deduped


def test_rename_empty_base_rival_mid_probe_falls_back(spark, tmp_path):
    """Rename mode, empty-base fast path: a rival append landing
    BETWEEN the undisturbed check and the probe's snapshot read carries
    another ingest seq, so the batch probe never examines its rows.
    The post-probe re-check (listing + write-UUID) must catch it."""
    root = str(tmp_path / "rntoctou")
    a = Catalog(spark, root, commit_mode="rename")
    a.create("m", SCHEMA, None, ["ticker", "date"])

    real_probe = Catalog._batch_dup_probe
    fired = {"done": False}
    calls: list[str] = []
    orig, wrapped = _counting(calls)
    Catalog._optimize_once = wrapped

    def racing_probe(self, name, seq):
        if self is a and not fired["done"]:
            fired["done"] = True
            # constructed NOW so the rival loads the post-insert
            # next_seq and stamps a DIFFERENT ingest seq — its rows
            # fall outside the batch probe, the exact blind spot
            b = Catalog(spark, root, commit_mode="rename")
            b.insert("m", _rows(spark, [("X", D2, 8.0), ("X", D2, 8.5)]))
        return real_probe(self, name, seq)

    Catalog._batch_dup_probe = racing_probe
    try:
        a.upsert("m", _rows(spark, [("A", D1, 1.0)]))
    finally:
        Catalog._batch_dup_probe = real_probe
        Catalog._optimize_once = orig
    assert calls == ["m"], "rival mid-probe must force the full optimize"
    got = _content(a, "m")
    assert [t for t, *_ in got] == ["A", "X"], got  # X deduped


BIN_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType()),
        T.StructField("val", T.DoubleType()),
    ]
)


def _bin_rows(spark, data):
    return spark.createDataFrame([(bytearray(k), v) for k, v in data], BIN_SCHEMA)


def test_binary_pk_collect_branch_falls_back(spark, tmp_path):
    """Binary PKs collect as bytearray (unhashable), which once broke a
    driver-side key collect in the probe; the probe stays distributed.
    A clean empty-base binary batch still skips optimize; later
    upserts optimize and resolve collisions."""
    cat = Catalog(spark, str(tmp_path / "binpk"), commit_mode="rename")
    cat.create("b", BIN_SCHEMA, None, ["key"])
    calls: list[str] = []
    orig, wrapped = _counting(calls)
    Catalog._optimize_once = wrapped
    try:
        cat.upsert("b", _bin_rows(spark, [(b"k1", 1.0), (b"k2", 2.0)]))
        assert calls == [], "clean empty-base binary batch must still skip"
        cat.upsert("b", _bin_rows(spark, [(b"k3", 3.0)]))
        cat.upsert("b", _bin_rows(spark, [(b"k1", 9.0)]))  # collision
        assert calls == ["b", "b"], "non-empty bases run the full optimize"
    finally:
        Catalog._optimize_once = orig
    got = sorted((bytes(r["key"]), r["val"]) for r in cat.table("b").collect())
    assert got == [(b"k1", 9.0), (b"k2", 2.0), (b"k3", 3.0)]


def test_fastpath_keyless_table_not_engaged(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "nk"), commit_mode="rename")
    cat.create("nk", SCHEMA, None, None)
    assert cat._upsert_empty_base_token("nk") is None
    cat.upsert("nk", _rows(spark, [("A", D1, 1.0), ("A", D1, 1.0)]))
    assert cat.table("nk").count() == 2  # no PK: append keeps both


@pytest.mark.parametrize("mode", MODES)
def test_empty_base_token_reads_footers(spark, tmp_path, mode, monkeypatch):
    """A table whose committed files hold zero rows is an empty base;
    one holding a row is not. Local footers decide — no table scan."""
    cat = Catalog(spark, str(tmp_path / f"ft_{mode}"), commit_mode=mode)
    cat.create("px", SCHEMA, None, ["ticker", "date"])
    cat.insert("px", _rows(spark, []))  # commits a zero-row file
    assert cat.data_files("px"), "the empty insert must commit a file"

    def no_scan(self, name):
        raise AssertionError("emptiness must come from the footers")

    monkeypatch.setattr(Catalog, "_raw_table", no_scan)
    assert cat._upsert_empty_base_token("px") is not None
    monkeypatch.undo()
    cat.insert("px", _rows(spark, [("A", D1, 1.0)]))
    monkeypatch.setattr(Catalog, "_raw_table", no_scan)
    assert cat._upsert_empty_base_token("px") is None
