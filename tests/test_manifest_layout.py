"""The one manifest layout behind ``SnapshotTable._commit_manifest``:
every commit path carries files, stats, blooms, deletion vectors and
the pending removal list on BOTH sides of the inline/segment threshold;
commits publish durably; and ``scripts/manifest_scale.py`` still runs."""

from __future__ import annotations

import importlib.util
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import aliyun_maxcompute_data_collectors_spark.snapshots as S
from aliyun_maxcompute_data_collectors_spark.snapshots import (
    SnapshotTable,
    resolve_stats,
)

BITS = 1 << 18
BLOOM = {"bloom_cols": ["k"], "bloom_bits": BITS}


def _rows(lo: int, n: int, v=None) -> list[tuple[int, int]]:
    # even keys only: every odd key inside a file's [min, max] is absent,
    # so only a carried bloom can prune it
    return [(2 * i, (2 * i) % 7 if v is None else v)
            for i in range(lo // 2, lo // 2 + n)]


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v long").coalesce(1)


def _parent(spark, root: str) -> tuple[SnapshotTable, dict]:
    """One four-file append, then a whole-file COW delete of the top
    key range: three live files, one file on the removal history."""
    t = SnapshotTable.init(spark, root)
    rows = _rows(0, 200)
    t.append(spark.createDataFrame(rows, "k long, v long")
             .repartitionByRange(4, "k"), **BLOOM)
    m = t.manifest()
    stats, _ = resolve_stats(m)
    lo, hi = max(stats[f]["k"] for f in m["files"])
    t.delete(("k", "between", (lo, hi)))
    return t, {k: v for k, v in rows if not lo <= k <= hi}


def _write_pyds(spark, t, rows):
    from aliyun_maxcompute_data_collectors_spark.sources.pyds import (
        register_python_datasources,
    )
    register_python_datasources(spark)
    (_df(spark, rows).write.format("graft_snapshot")
     .option("path", t.path).mode("append").save())


def _stream_epoch(spark, t, rows):
    from aliyun_maxcompute_data_collectors_spark.sources.pyds import (
        _FileCommit,
        _SnapshotStreamWriter,
    )
    sw = _SnapshotStreamWriter(t.path)
    f = os.path.join(sw._stage, "part-epoch.parquet")
    pq.write_table(pa.table({"k": pa.array([r[0] for r in rows], pa.int64()),
                             "v": pa.array([r[1] for r in rows], pa.int64())}),
                   f)
    sw.commit([_FileCommit(file=f, rows=len(rows))], 1)


def _merge(t, model, mor):
    src = [(10, 100), (5000, 7)]
    t.merge(_df(t.spark, src), "t.k = s.k",
            matched=[(None, {"v": "s.v"})], not_matched=(None, "*"),
            mor=mor, **BLOOM)
    model.update(dict(src))


def _delete(t, model, mor):
    t.delete(("k", "between", (100, 120)), mor=mor, **BLOOM)
    for k in range(100, 121, 2):
        model.pop(k)


def _update(t, model, mor):
    t.update({"v": "v + 100"}, ("k", "between", (0, 20)), mor=mor, **BLOOM)
    for k in range(0, 21, 2):
        model[k] += 100


def _op(name, t, model, tmp_path):
    spark = t.spark
    if name == "append":
        t.append(_df(spark, _rows(1000, 50)), **BLOOM)
        model.update(_rows(1000, 50))
    elif name == "pyds_batch_append":
        _write_pyds(spark, t, _rows(2000, 50))
        model.update(_rows(2000, 50))
    elif name == "pyds_stream_append":
        _stream_epoch(spark, t, _rows(3000, 50))
        model.update(_rows(3000, 50))
    elif name in ("cow_delete", "mor_delete"):
        _delete(t, model, name.startswith("mor"))
    elif name in ("cow_update", "mor_update"):
        _update(t, model, name.startswith("mor"))
    elif name in ("cow_merge", "mor_merge"):
        _merge(t, model, name.startswith("mor"))
    elif name == "replace_where":
        t.replace_where(_df(spark, _rows(250, 25, v=99)),
                        ("k", "between", (250, 298)), **BLOOM)
        model.update(_rows(250, 25, v=99))
    elif name == "compact":
        t.compact(target_file_bytes=1 << 20, **BLOOM)
    elif name == "cluster":
        t.cluster(["k", "v"], n_files=2, **BLOOM)
    elif name == "rollback":
        v = t.current_version()
        t.append(_df(spark, _rows(4000, 10)), **BLOOM)
        t.rollback(v)
    elif name == "consolidate_metadata":
        t.consolidate_metadata()
    elif name == "clone":
        return t.clone(str(tmp_path / "clone"))
    else:
        raise AssertionError(name)
    return t


OPS = ["append", "pyds_batch_append", "pyds_stream_append", "cow_delete",
       "cow_update", "cow_merge", "mor_delete", "mor_update", "mor_merge",
       "replace_where", "compact", "cluster", "rollback",
       "consolidate_metadata", "clone"]
# writers that cannot take bloom_cols: their new files carry stats only
NO_BLOOM_WRITERS = {"pyds_batch_append", "pyds_stream_append"}


@pytest.mark.parametrize("parent", ["inline", "segmented"])
@pytest.mark.parametrize("op", OPS)
def test_every_commit_path_carries_the_manifest(spark, tmp_path, monkeypatch,
                                                op, parent):
    """Each commit path, on an inline parent and on a segmented parent
    (INLINE_FILES=2) holding a pending removal list: the table reads
    back its pandas-style model, no removed file returns, every live
    file keeps its stats and blooms (a point prune keeps exactly the
    files physically holding the key; an absent odd key inside a file's
    range is pruned by its bloom), and ``dvs`` names only live files."""
    if parent == "segmented":
        # the module constant, not inline_files=2: the stream sink opens
        # its own SnapshotTable.  (The DSv2 batch commit runs in a Python
        # worker that keeps the default threshold, so that case covers a
        # segmented parent shrinking back inline.)
        monkeypatch.setattr(S, "INLINE_FILES", 2)
    t, model = _parent(spark, str(tmp_path / "t"))
    pm = t.manifest()
    raw = json.load(open(t._manifest_path(pm["version"])))
    assert bool(raw.get("file_segments")) == (parent == "segmented")
    assert bool(raw.get("removed_files")) == (parent == "segmented")
    gone = set(t.manifest(pm["version"] - 1)["files"]) - set(pm["files"])
    assert len(gone) == 1
    _, pblooms = resolve_stats(pm)
    assert set(pblooms) >= set(pm["files"])

    out = _op(op, t, model, tmp_path)
    m = out.manifest()
    files = m["files"]

    got = sorted((r["k"], r["v"]) for r in out.read().collect())
    assert got == sorted(model.items())
    assert not gone & set(files), "a removed file came back"
    assert len(files) == len(set(files))
    assert set(m.get("dvs") or {}) <= set(files)

    stats, blooms = resolve_stats(m)
    new = set(files) - set(pm["files"])
    want_bloom = set(files) - (new if op in NO_BLOOM_WRITERS else set())
    assert {f for f in files if blooms.get(f, {}).get("k")} == want_bloom
    phys = {}
    for f in files:
        assert set(stats[f]) == {"k", "v"}, f
        ks = pq.read_table(f, columns=["k"]).column("k").to_pylist()
        assert stats[f]["k"] == [min(ks), max(ks)]
        phys[f] = set(ks)
    for f in files:
        x = min(phys[f])
        assert set(out.prune_files(m, [("k", "==", x)])) == \
            {g for g in files if x in phys[g]}
        lo, hi = stats[f]["k"]
        if lo < x + 1 < hi:
            assert set(out.prune_files(m, [("k", "==", x + 1)])) == \
                {g for g in set(files) - want_bloom
                 if stats[g]["k"][0] <= x + 1 <= stats[g]["k"][1]}


def test_commit_fsyncs_manifest_and_head_directories(spark, tmp_path,
                                                      monkeypatch):
    """A commit publishes its manifest and HEAD by rename and then
    fsyncs both parent directories, so a power loss cannot forget a
    commit that already returned."""
    t = SnapshotTable.init(spark, str(tmp_path / "d"))
    synced = []
    real = os.fsync

    def recording_fsync(fd):
        st = os.fstat(fd)
        synced.append((st.st_dev, st.st_ino))
        return real(fd)

    monkeypatch.setattr(os, "fsync", recording_fsync)
    m = t.manifest()
    t._commit_manifest(m["version"], m, "noop", m["rows"])
    monkeypatch.undo()

    def ident(p):
        st = os.stat(p)
        return (st.st_dev, st.st_ino)

    assert ident(os.path.join(t._root, "manifests")) in synced
    assert ident(t._root) in synced
    assert ident(t._manifest_path(m["version"] + 1)) in synced
    assert ident(t._head_path()) in synced


def test_manifest_scale_runs_on_both_sides_of_the_threshold():
    """scripts/manifest_scale.py drives the real commit and planning
    paths with no Spark; one run below and one above INLINE_FILES keeps
    it from rotting when the commit API changes."""
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts", "manifest_scale.py")
    spec = importlib.util.spec_from_file_location("manifest_scale", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    small = mod.bench_one(20, blooms=True, inline_files=200)
    big = mod.bench_one(20, blooms=True, inline_files=10)
    for row in (small, big):
        assert row["kept"] == 5 and row["commit_s"] >= 0
    assert small["segment_bytes"] == 0
    assert big["segment_bytes"] > 0 and big["manifest_bytes"] < \
        small["manifest_bytes"]
