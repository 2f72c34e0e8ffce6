"""The versioned store's staged commit (collections/storage.py): a
failed multi-table write leaves the store readable and retryable,
each table keeps its own tombstone history, and reads survive a
missing schema sidecar or an empty delta/tombstone dir."""

import os

import pytest

from postgresml_spark.collections.storage import (
    BucketedVersionedTable,
    delta_overwrite_multi,
    overwrite_multi,
)


class InjectedFault(Exception):
    """Not an OSError, so the hardlink's copy fallback does not absorb
    it: the write stops where the fault hits."""


def _tables(spark, root, n=3):
    return [
        BucketedVersionedTable(spark, str(root / f"t{i}"),
                               f"k string, v{i} string", key="k", n_buckets=4)
        for i in range(n)
    ]


def _entries(spark, tables, rows):
    return [
        (t, spark.createDataFrame([(k, f"{v}{i}") for k, v in rows], t.schema))
        for i, t in enumerate(tables)
    ]


def _rows(t) -> dict:
    rows = [tuple(r) for r in t.read().collect()]
    out = dict(rows)
    assert len(out) == len(rows), f"duplicate keys in {t.path}: {sorted(rows)}"
    return out


BASE = [(f"k{i}", "old") for i in range(8)]


@pytest.mark.parametrize("op,nth", [
    ("rename", 1), ("link", 1), ("replace", 1), ("replace", 2),
])
def test_delta_multi_fault_leaves_store_readable(spark, tmp_path, monkeypatch,
                                                 op, nth):
    tables = _tables(spark, tmp_path)
    overwrite_multi(_entries(spark, tables, BASE))
    # the version the faulty write starts from carries a _delta and
    # _tombstones, so staging exercises move, link and compaction
    delta_overwrite_multi(_entries(spark, tables, [("k1", "d1")]), ["k1"])
    before = [t._current_version() for t in tables]
    rows_before = [_rows(t) for t in tables]

    real, calls = getattr(os, op), []

    def faulty(*args, **kwargs):
        calls.append(args)
        if len(calls) == nth:
            raise InjectedFault(op)
        return real(*args, **kwargs)

    batch = [("k1", "d2"), ("k2", "d2")]
    monkeypatch.setattr(os, op, faulty)
    with pytest.raises(InjectedFault):
        delta_overwrite_multi(_entries(spark, tables, batch), ["k1", "k2"])
    monkeypatch.undo()

    for t in tables:  # every pointer parses; no pointer temp file left
        with open(t._pointer()) as f:
            int(f.read())
        assert [n for n in os.listdir(t.path) if n.startswith("_current.")] == []
    assert [n for n in os.listdir(tmp_path) if n.startswith(".multi_")] == []
    after = [t._current_version() for t in tables]
    if op == "replace" and nth == 2:
        # inside the flip loop: the first table flipped, the rest did not
        assert after == [before[0] + 1] + before[1:]
    else:
        # before the flip loop: every table on its old version
        assert after == before
        assert [_rows(t) for t in tables] == rows_before
        if op != "replace":  # a failed stage removes its version dirs
            assert [max(t.versions()) for t in tables] == before

    delta_overwrite_multi(_entries(spark, tables, batch), ["k1", "k2"])
    for i, t in enumerate(tables):
        rows = _rows(t)  # asserts no duplicate key
        assert sorted(rows) == sorted(k for k, _ in BASE)
        assert rows["k1"] == f"d2{i}" and rows["k2"] == f"d2{i}"
        assert rows["k3"] == f"old{i}"


def test_delta_multi_keeps_each_tables_tombstone_history(spark, tmp_path):
    """One sibling's history diverges (a solo delta write): the next
    multi-table write must neither resurrect its replaced row nor drop
    the other tables' live rows for that key."""
    tables = _tables(spark, tmp_path)
    overwrite_multi(_entries(spark, tables, BASE))
    t2 = tables[2]
    t2.delta_overwrite(spark.createDataFrame([("k3", "solo")], t2.schema), ["k3"])
    delta_overwrite_multi(_entries(spark, tables, [("k5", "new")]), ["k5"])
    for i, t in enumerate(tables):
        rows = _rows(t)  # asserts no duplicate key
        assert sorted(rows) == sorted(k for k, _ in BASE)
        assert rows["k3"] == ("solo" if i == 2 else f"old{i}")
        assert rows["k5"] == f"new{i}"
    # equal histories share one hardlinked tombstone file
    tomb = [os.path.join(t._vdir(t._current_version()), "_tombstones",
                         "part-00000.parquet") for t in tables]
    assert os.stat(tomb[0]).st_ino == os.stat(tomb[1]).st_ino
    assert os.stat(tomb[0]).st_ino != os.stat(tomb[2]).st_ino


def test_multi_write_read_without_schema_sidecar(spark, tmp_path):
    """Files of a multi-table write carry every sibling's columns; with
    the `_schema.json` sidecar gone, inference must still give each
    table its own columns, as a one-table write's read does."""
    tables = _tables(spark, tmp_path / "multi")
    entries = _entries(spark, tables, BASE)
    overwrite_multi(entries)
    solos = [
        BucketedVersionedTable(spark, str(tmp_path / f"solo{i}"), t.schema,
                               key="k", n_buckets=4)
        for i, t in enumerate(tables)
    ]
    for solo, (_, df) in zip(solos, entries):
        solo.overwrite(df)
    for t in tables:
        os.remove(os.path.join(t._vdir(t._current_version()), "_schema.json"))
    for t, solo in zip(tables, solos):
        assert t.read().columns == solo.read().columns
        assert _rows(t) == _rows(solo)


def test_empty_sidecar_dirs_read_as_empty_frames(spark, tmp_path):
    (t,) = _tables(spark, tmp_path, n=1)
    t.overwrite(spark.createDataFrame(BASE, t.schema))
    t.delta_overwrite(spark.createDataFrame([], t.schema), [])
    vdir = t._vdir(t._current_version())
    assert os.listdir(os.path.join(vdir, "_delta")) == []
    os.remove(os.path.join(vdir, "_tombstones", "part-00000.parquet"))
    delta = t._extra(vdir, "_delta")
    assert delta.count() == 0 and "k" in delta.columns
    assert t._extra(vdir, "_tombstones").columns == ["__key"]
    assert _rows(t) == dict(BASE)
