#!/usr/bin/env python
"""Spark-JOB-count evidence for the r13 MOR DML single-job redesign.

The r13 change collapses per-commit Spark jobs (the bench's dominant
fixed cost at the measured scale): a plan diff cannot show it because
the old shape ran the SAME plans more times.  This script counts the
jobs one MOR delete / update / merge actually launches (statusTracker
job ids are monotonically assigned per context) and records each
commit's row outcome so before/after runs are provably the same work.

Usage: python scripts/capture_mor_jobs.py <tag> <suffix>
Writes plans/<tag>/mor_job_counts_<suffix>.txt
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from aliyun_maxcompute_data_collectors_spark import snapshots
from aliyun_maxcompute_data_collectors_spark.session import get_spark, load_tables
from aliyun_maxcompute_data_collectors_spark.snapshots import SnapshotTable

# the script's own delete sequence leaves one file 2/3 dead - legal for
# the capture (the fraction bound is a production guard)
snapshots.MOR_MAX_DV_FRACTION = 0.7

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> int:
    tag, suffix = sys.argv[1], sys.argv[2]
    outdir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("capture-mor-jobs")
    spark.sparkContext.setLogLevel("ERROR")
    tracker = spark.sparkContext.statusTracker()

    def jobs_in(group: str, fn) -> int:
        spark.sparkContext.setJobGroup(group, group)
        try:
            fn()
        finally:
            spark.sparkContext.setJobGroup("", "")
        return len(tracker.getJobIdsForGroup(group))

    lines = [f"MOR DML job counts ({suffix}), sf_dir={SF_DIR}", ""]
    root = tempfile.mkdtemp(prefix="mor_jobs_")
    try:
        o = load_tables(spark, SF_DIR, ["orders"])["orders"].select(
            "o_orderkey", "o_totalprice")
        m10 = F.col("o_orderkey") % 10
        tab = SnapshotTable.init(spark, os.path.join(root, "t"))
        tab.append(o.where(m10 < 5).coalesce(1))
        tab.append(o.where((m10 >= 5) & (m10 < 8)).coalesce(1))

        n = jobs_in("dml-del1",
                    lambda: tab.delete("o_orderkey % 10 = 6", mor=True))
        lines.append(f"delete(mor=True) 1 file touched:   "
                     f"{n} jobs; rows now {tab.manifest()['rows']}")

        n = jobs_in("dml-del2",
                    lambda: tab.delete("o_orderkey % 10 IN (2, 7)",
                                       mor=True))
        lines.append(f"delete(mor=True) 2 files touched:  "
                     f"{n} jobs; rows now {tab.manifest()['rows']}")

        n = jobs_in("dml-upd",
                    lambda: tab.update({"o_totalprice": "o_totalprice * 2"},
                                       "o_orderkey % 10 = 3", mor=True))
        lines.append(f"update(mor=True):                  "
                     f"{n} jobs; rows now {tab.manifest()['rows']}")

        src = o.where(m10.isin(1, 9)).withColumn(
            "o_totalprice", F.col("o_totalprice") + 1)
        n = jobs_in("dml-merge",
                    lambda: tab.merge(
                        src, "t.o_orderkey = s.o_orderkey",
                        matched=[(None,
                                  {"o_totalprice": "s.o_totalprice"})],
                        not_matched=(None, "*"),
                        mor=True))
        lines.append(f"merge(mor=True) upd+ins:           "
                     f"{n} jobs; rows now {tab.manifest()['rows']}")

        agg = tab.read().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").cast("long").alias("s")).collect()[0]
        lines.append("")
        lines.append(f"final table check: n={agg['n']} sum_key={agg['s']}")
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()

    path = os.path.join(outdir, f"mor_job_counts_{suffix}.txt")
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {path}")
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
