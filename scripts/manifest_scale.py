"""Measure snapshot-table manifest costs vs file count (VERDICT r7 #3).

Isolates the metadata costs from data IO by committing synthetic file
lists through the real ``_commit_manifest`` / ``manifest()`` /
``prune_files`` / ``changes()`` planning code paths - no Spark:

- commit latency: append 100 new files to a table already holding N
- DML commit latency: drop 10 files (copy-on-write delete shape)
- planning latency: manifest load + stats-based pruning of one
  conjunct, cold (segment cache cleared) and warm
- 50-version CDF range planning
- manifest and segment size on disk

Run:  python scripts/manifest_scale.py [--blooms] [--inline-files K] [N ...]
Output: one JSON line per N (default sizes below) -> SCALE.md curves.
``--inline-files`` overrides the inline/segment threshold, to price
both layouts at the same table size.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aliyun_maxcompute_data_collectors_spark.snapshots import SnapshotTable  # noqa: E402


def synth_stats(path: str, i: int) -> dict:
    # realistic shape: three statted int columns with disjoint ranges
    return {"id": [i * 1000, (i + 1) * 1000 - 1],
            "ts": [1_700_000_000 + i, 1_700_000_000 + i + 86400],
            "bucket": [i % 32, i % 32]}


def synth_bloom(m: int = 1 << 15) -> dict:
    return {"code": {"m": m, "hex": "ab" * (m // 8)}}


def build_table(root: str, n_files: int, blooms: bool,
                inline_files: int | None = None) -> SnapshotTable:
    os.makedirs(os.path.join(root, "_snapshots", "files"))
    os.makedirs(os.path.join(root, "_snapshots", "manifests"))
    tab = SnapshotTable(None, root, inline_files=inline_files)
    files = [os.path.join(root, "_snapshots", "files", f"seed/{i:07d}.parquet")
             for i in range(n_files)]
    stats = {f: synth_stats(f, i) for i, f in enumerate(files)}
    bl = {f: synth_bloom() for f in files} if blooms else None
    tab._commit_manifest(None, None, "append", n_files * 1000, add=files,
                         stats=stats, blooms=bl)
    return tab


def bench_one(n_files: int, blooms: bool,
              inline_files: int | None = None) -> dict:
    from aliyun_maxcompute_data_collectors_spark.snapshots import _seg_cache_clear

    root = tempfile.mkdtemp(prefix=f"mscale_{n_files}_")
    try:
        tab = build_table(root, n_files, blooms, inline_files)
        parent = tab.current_version()
        pm = tab.manifest(parent)
        new = [os.path.join(root, "_snapshots", "files",
                            f"new/{i:05d}.parquet") for i in range(100)]
        new_stats = {f: synth_stats(f, n_files + i)
                     for i, f in enumerate(new)}
        new_bl = ({f: synth_bloom() for f in new} if blooms else None)
        t0 = time.perf_counter()
        tab._commit_manifest(parent, pm, "append", pm["rows"] + 100 * 1000,
                             add=new, stats=new_stats, blooms=new_bl)
        commit_s = time.perf_counter() - t0
        # planning: cold manifest load + one-conjunct prune.  Clear the
        # segment cache so "cold" really pays the segment decode (the
        # preceding commit had loaded the segments already)
        _seg_cache_clear()
        t0 = time.perf_counter()
        m = tab.manifest()
        kept = tab.prune_files(m, [("id", "between",
                                    (5_000, 9_000))])
        plan_s = time.perf_counter() - t0
        # warm: segments are immutable and lru-cached for the process
        t0 = time.perf_counter()
        tab.prune_files(tab.manifest(), [("id", "between",
                                          (5_000, 9_000))])
        plan_warm_s = time.perf_counter() - t0
        # COW DML commit: drop 10 files from the table, as
        # SnapshotTable.delete does for whole-file matches
        m2 = tab.manifest()
        touched = m2["files"][:10]
        t0 = time.perf_counter()
        tab._commit_manifest(tab.current_version(), m2, "delete",
                             m2["rows"] - 10 * 1000, remove=touched)
        dml_commit_s = time.perf_counter() - t0
        assert len(tab.manifest()["files"]) == len(m2["files"]) - 10
        # manifest/segment footprint of the steady-state table, captured
        # BEFORE the CDF-appends below inflate the inline variants
        size = os.path.getsize(tab._manifest_path(tab.current_version()))
        seg_bytes = sum(
            os.path.getsize(os.path.join(tab._root, "manifests", f))
            for f in os.listdir(os.path.join(tab._root, "manifests"))
            if f.startswith("seg-"))
        # CDF RANGE PLANNING over 50 commits (r11, VERDICT r10 #3): 49
        # more appends of 100 files each + the DML commit above, then
        # plan the whole range TRUE-cold through the exact changes()
        # planner (50 raw manifest JSONs + their O(delta) lists)
        cdf_since = tab.current_version()
        for c in range(49):
            pmc = tab.manifest()
            newc = [os.path.join(root, "_snapshots", "files",
                                 f"cdf{c:02d}/{i:05d}.parquet")
                    for i in range(100)]
            tab._commit_manifest(
                tab.current_version(), pmc, "append",
                pmc["rows"] + 100 * 1000, add=newc,
                stats={f: synth_stats(f, i) for i, f in enumerate(newc)})
        _seg_cache_clear()
        t0 = time.perf_counter()
        plan = tab._plan_change_range(cdf_since, tab.current_version())
        cdf_plan_s = time.perf_counter() - t0
        assert plan is not None
        assert sum(len(s[2]) for s in plan) == 49 * 100
        return {"n_files": n_files, "blooms": blooms,
                "inline_files": tab.inline_files,
                "commit_s": round(commit_s, 4),
                "dml_commit_s": round(dml_commit_s, 4),
                "plan_s": round(plan_s, 4),
                "plan_warm_s": round(plan_warm_s, 4),
                "cdf_plan_50v_s": round(cdf_plan_s, 4),
                "manifest_bytes": size, "segment_bytes": seg_bytes,
                "kept": len(kept)}
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--blooms", action="store_true")
    ap.add_argument("--inline-files", type=int, default=None)
    ap.add_argument("sizes", nargs="*", type=int)
    args = ap.parse_args()
    # 1e6 files ~ 128 TB at 128 MB/file: the file-list segmentation
    # target point (VERDICT r8 #1 done-criteria)
    sizes = args.sizes or ([200, 1_000, 4_000, 10_000, 100_000, 1_000_000]
                           if not args.blooms else [200, 1_000, 4_000, 10_000])
    for n in sizes:
        print(json.dumps(bench_one(n, args.blooms, args.inline_files)),
              flush=True)
