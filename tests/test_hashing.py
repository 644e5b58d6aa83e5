"""ODPS hash parity tests: the numpy implementation vs an independent
pure-bigint emulation of Java two's-complement semantics, plus the
Arrow-batched column UDF vs the scalar path."""

from __future__ import annotations

import decimal
import math
import os
import random
from datetime import datetime, timezone
from decimal import Decimal

from aliyun_maxcompute_data_collectors_spark.operators import hashing as H


def _i32(x):
    x &= 0xFFFFFFFF
    return x - (1 << 32) if x >= (1 << 31) else x


def _i64(x):
    x &= 0xFFFFFFFFFFFFFFFF
    return x - (1 << 64) if x >= (1 << 63) else x


def _mix_ref(val):
    l = _i64(val)
    l = _i64(_i64(~l) + _i64(l << 18))
    l = _i64(l ^ (l >> 31))
    l = _i64(l * 21)
    l = _i64(l ^ (l >> 11))
    l = _i64(l + _i64(l << 6))
    l = _i64(l ^ (l >> 22))
    return _i32(l)


def _str_ref(s: str):
    h = 0
    for b in s.encode("utf-8"):
        sb = b - 256 if b >= 128 else b
        h = _i32(h + sb)
        h = _i32(h + _i32(h << 10))
        h = _i32(h ^ (h >> 6))
    h = _i32(h + _i32(h << 3))
    h = _i32(h ^ (h >> 11))
    h = _i32(h + _i32(h << 15))
    return h


def test_long_hash_parity():
    random.seed(7)
    vals = [0, 1, -1, 2**31 - 1, -(2**31), 2**63 - 1, -(2**63)] + [
        random.randint(-(2**63), 2**63 - 1) for _ in range(500)
    ]
    for v in vals:
        assert H.hash_long(v) == _mix_ref(v)


def test_string_hash_parity():
    for s in ["", "a", "abc", "hello world", "列七", "ünïcode", "x" * 500, "\t\n"]:
        assert H.hash_string(s) == _str_ref(s)


def test_boolean_magic_constants():
    assert H.hash_boolean(True) == 0x172BA9C7
    assert H.hash_boolean(False) == -0x3A59CB12
    assert H.hash_boolean(None) == 0


def test_timestamp_packing():
    # positive: 2024-01-01 00:00:00.123456 -> seconds<<30 | nanos
    us = 1704067200_123456
    assert H.hash_timestamp(us) == _mix_ref(
        ((1704067200 << 30) | 123456000) & 0xFFFFFFFFFFFFFFFF
    )
    # negative epoch: -1.5s -> floor seconds -2, nanos 500ms (Timestamp semantics)
    assert H.hash_timestamp(-1_500_000) == _mix_ref(
        (((-2) << 30) | 500_000_000) & 0xFFFFFFFFFFFFFFFF
    )


def test_decimal_div_rem_truncates_toward_zero():
    v = Decimal("1234567890.5")
    q, r = 1, 234567890  # 1234567890.5 divideAndRemainder(1e9) -> (1, 234567890.5->234567890)
    assert H.hash_decimal(v) == _mix_ref(((q << 30) | r) & 0xFFFFFFFFFFFFFFFF)
    vneg = Decimal("-1234567890.5")
    qn, rn = -1, -234567890
    assert H.hash_decimal(vneg) == _mix_ref(
        ((qn << 30) | (rn & 0xFFFFFFFFFFFFFFFF)) & 0xFFFFFFFFFFFFFFFF
    )


def test_combine():
    vals = [H.hash_long(7), H.hash_string("abc"), H.hash_boolean(True)]
    s = 0
    for v in vals:
        s = _i32(s + v)
    assert H.combine_hashes(vals) == _i32(s ^ (s >> 8))


def test_column_udf_matches_scalar(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "alpha", 1.5, True, datetime(2024, 1, 1, 12, 0, 0, 123456)),
            (2, None, -2.25, False, datetime(1969, 12, 31, 23, 59, 58, 500000)),
            (None, "列七", None, None, None),
        ],
        "k long, s string, d double, b boolean, ts timestamp_ntz",
    )
    rows = df.withColumn("h", H.odps_hash(df, ["k", "s", "d", "b", "ts"])).collect()
    for r in rows:
        parts = [
            H.hash_long(r["k"]),
            H.hash_string(r["s"]),
            H.hash_double(r["d"]),
            H.hash_boolean(r["b"]),
            H.hash_timestamp(
                None if r["ts"] is None
                else int(r["ts"].replace(tzinfo=timezone.utc).timestamp() * 1_000_000)
            ),
        ]
        assert r["h"] == H.combine_hashes(parts)

    # adversarial single-key inputs: unicode, empty, every byte value,
    # signed zeros, NaN, infinities, subnormals
    svals = ["", "a", "abc", "hello world", "列七", "ünïcode", "x" * 300,
             "\t\n", None, "€𝄞 mixed", "ORD-12345-6"]
    bvals = [b"", b"\x00", b"\xff\x80\x7f", bytes(range(256)), None]
    fvals = [0.0, -0.0, 1.5, -1.5, math.pi, float("inf"), float("-inf"),
             float("nan"), 1e-310, 1e-40, None]
    for vals, ddl, ref in [(svals, "string", H.hash_string),
                           (bvals, "binary", H.hash_string),
                           (fvals, "double", H.hash_double),
                           (fvals, "float", H.hash_float)]:
        one = spark.createDataFrame([(v,) for v in vals], f"x {ddl}")
        got = one.withColumn("h", H.odps_hash(one, ["x"])).collect()
        assert len(got) == len(vals)
        for r in got:
            assert r["h"] == H.combine_hashes([ref(r["x"])]), (ddl, r["x"])


def test_bucket_id_range(spark):
    df = spark.range(1000).selectExpr("id", "CAST(id AS STRING) AS s")
    out = df.withColumn("b", H.odps_bucket_id(df, ["id", "s"], 16)).collect()
    assert all(0 <= r["b"] < 16 for r in out)
    assert len({r["b"] for r in out}) > 8  # spreads across buckets


def test_column_udf_date_decimal_float(spark):
    import datetime as dt
    from decimal import Decimal

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(dt.date(2024, 1, 15), Decimal("123.45"), 1.5),
         (None, None, None),
         (dt.date(1969, 5, 1), Decimal("-7.25"), -0.0)],
        "d date, m decimal(38,18), f float")
    rows = df.withColumn("h", H.odps_hash(df, ["d", "m", "f"])).collect()
    epoch = dt.date(1970, 1, 1)
    for r in rows:
        expect = H.combine_hashes([
            H.hash_date((r["d"] - epoch).days if r["d"] else None),
            H.hash_decimal(r["m"]),
            H.hash_float(r["f"]),
        ])
        assert r["h"] == expect, (r, expect)


def test_expr_path_matches_scalar_longs(spark):
    """Pure-expression hash (ANSI-safe 32-bit-half emulation) must equal the
    python reference on adversarial longs: extremes, sign flips, nulls."""
    vals = [0, 1, -1, 21, -21, 2**31 - 1, -(2**31), 2**63 - 1, -(2**63),
            0x123456789ABCDEF0 - 2**64 + 2**63, None]
    vals += [random.Random(7).randrange(-2**63, 2**63) for _ in range(200)]
    df = spark.createDataFrame([(v,) for v in vals], "k long")
    col = H.odps_hash(df, ["k"])
    # the chosen plan must be expression-only (no Python eval node)
    plan = df.withColumn("h", col)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    for r in df.withColumn("h", col).collect():
        assert r["h"] == H.combine_hashes([H.hash_long(r["k"])]), r


def test_expr_path_matches_scalar_mixed(spark):
    """bool/date/timestamp/int multi-column expr combine == scalar combine."""
    import datetime as dt

    rows = [
        (7, True, dt.date(2024, 1, 15), datetime(2024, 1, 1, 12, 0, 0, 123456)),
        (-3, False, dt.date(1969, 5, 1), datetime(1969, 12, 31, 23, 59, 58, 500000)),
        (None, None, None, None),
        (2**62, True, dt.date(1, 1, 1), datetime(1, 1, 1, 0, 0, 0, 1)),
    ]
    df = spark.createDataFrame(rows, "k long, b boolean, d date, ts timestamp_ntz")
    col = H.odps_hash(df, ["k", "b", "d", "ts"])
    plan = df.withColumn("h", col)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    epoch = dt.date(1970, 1, 1)
    for r in df.withColumn("h", col).collect():
        expect = H.combine_hashes([
            H.hash_long(r["k"]),
            H.hash_boolean(r["b"]),
            H.hash_date((r["d"] - epoch).days if r["d"] else None),
            H.hash_timestamp(
                None if r["ts"] is None
                else (int(r["ts"].replace(tzinfo=timezone.utc).timestamp() * 1_000_000)
                      if r["ts"].year > 1 else
                      int((r["ts"].replace(tzinfo=timezone.utc)
                           - datetime(1970, 1, 1, tzinfo=timezone.utc)).total_seconds()) * 1_000_000 + r["ts"].microsecond)
            ),
        ])
        assert r["h"] == expect, (r, expect)


def test_expr_and_udf_paths_agree(spark, monkeypatch):
    """Same rows hashed through both dispatch paths must agree.  The UDF
    path is forced by emptying the expr-eligible type set."""
    df = spark.range(500).selectExpr(
        "id", "CAST(id * 2654435761 % 1000000 AS LONG) AS k2")
    expr_h = [r["h"] for r in
              df.withColumn("h", H.odps_hash(df, ["id", "k2"])).orderBy("id").collect()]
    monkeypatch.setattr(H, "_EXPR_TYPES", ())
    udf_h = [r["h"] for r in
             df.withColumn("h", H.odps_hash(df, ["id", "k2"])).orderBy("id").collect()]
    assert expr_h == udf_h


def test_minhash_hash_fn_variants(spark):
    import pytest as _pytest
    from aliyun_maxcompute_data_collectors_spark.operators.dedup import (
        MINHASH_P, minhash_signature)

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again")],
        "doc_id long, text string")
    md5_sig = minhash_signature(df, "doc_id", "text").collect()[0]
    xx_sig = minhash_signature(df, "doc_id", "text", hash_fn="xxhash64").collect()[0]
    # both in-domain; deterministic across recomputation
    for r in (md5_sig, xx_sig):
        assert all(0 <= r[f"sig_{i}"] < MINHASH_P for i in range(16))
    assert minhash_signature(df, "doc_id", "text", hash_fn="xxhash64") \
        .collect()[0] == xx_sig
    with _pytest.raises(ValueError, match="hash_fn"):
        minhash_signature(df, "doc_id", "text", hash_fn="sha1").collect()


def test_udf_decimal_vectorized_parity(spark):
    """The Arrow kernel's exact unscaled-int decimal path == scalar
    hash_decimal across precisions up to decimal(38,*), signs, extremes and
    nulls, with Arrow batches split mid-column."""
    import random as _r

    import pyarrow as pa

    rng = _r.Random(11)
    top38 = 10 ** 38 - 1
    exact = decimal.Context(prec=100)  # the default 28 digits would round

    def scaled(u, s):
        return Decimal(u).scaleb(-s, exact)

    cases = {
        "decimal(30,6)": [Decimal(rng.randrange(-10**20, 10**20)) / Decimal(10**6)
                          for _ in range(300)] + [None, Decimal("0")],
        "decimal(27,6)": [Decimal("0"), Decimal("1.5"), Decimal("-1.5"),
                          Decimal("123.45"), Decimal("-9999999999999999.99"),
                          Decimal("1234567890123456789.123456"),
                          Decimal("-1234567890123456789.123456"),
                          Decimal("999999999999999999999.999999"),
                          Decimal("-999999999999999999999.999999"), None],
        "decimal(38,0)": [Decimal(top38), Decimal(-top38), Decimal(0),
                          Decimal(10 ** 9), Decimal(-(10 ** 9) + 1), None]
                         + [Decimal(rng.randrange(-top38, top38))
                            for _ in range(40)],
        "decimal(38,18)": [scaled(top38, 18), scaled(-top38, 18),
                           Decimal("1E-18"), Decimal("-1E-18"), None]
                          + [scaled(rng.randrange(-top38, top38), 18)
                             for _ in range(40)],
        "decimal(18,2)": [Decimal("9999999999999999.99"),
                          Decimal("-9999999999999999.99"), Decimal("0.01"),
                          Decimal("-0.01"), None] + [
                          scaled(rng.randrange(-10**18 + 1, 10**18), 2)
                          for _ in range(40)],
    }
    prior = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        for ddl, vals in cases.items():
            df = spark.createDataFrame([(v,) for v in vals], f"d {ddl}")
            col = H.odps_hash(df, ["d"])
            plan = df.withColumn("h", col)._jdf.queryExecution() \
                .executedPlan().toString()
            assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan
            got = df.withColumn("h", col).collect()
            assert len(got) == len(vals)
            for r in got:
                assert r["h"] == H.combine_hashes([H.hash_decimal(r["d"])]), \
                    (ddl, r["d"])
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prior)

    # a sliced arrow array (non-zero offset) reads the right value slots
    vals = cases["decimal(38,18)"]
    arr = pa.array(vals, type=pa.decimal128(38, 18)).slice(3)
    got = H._hash_arrow_one(arr, H.T.DecimalType(38, 18))
    assert got.tolist() == [H.hash_decimal(v) for v in vals[3:]]


def test_string_bucketed_write_layout_matches_scalar(spark, tmp_path):
    """Every row of a STRING-bucketed ``catalog.insert`` lands in the bucket
    directory the scalar reference names: ``combine_hashes([hash_string
    (name)]) % 8`` (NULL keys hash to 0 -> bucket 0)."""
    from aliyun_maxcompute_data_collectors_spark.catalog import BucketSpec, OdpsCatalog

    rows = [(f"name-{i:04d}" if i % 7 else None, i) for i in range(300)]
    df = spark.createDataFrame(rows, "name string, n long")
    cat = OdpsCatalog(spark, str(tmp_path / "wh"))
    cat.create_table("bt", [("name", "STRING"), ("n", "BIGINT")],
                     bucket=BucketSpec("hash", 8, ["name"], [("n", "ASC")]))
    cat.insert("bt", df)
    ddir = cat.data_dir("bt")
    dirs = [d for d in os.listdir(ddir) if d.startswith("__odps_bucket__=")]
    assert len(dirs) > 4  # 300 distinct keys spread over the 8 buckets
    seen = []
    for b in dirs:
        bucket = int(b.split("=", 1)[1])
        for r in spark.read.parquet(os.path.join(ddir, b)).collect():
            assert bucket == H.combine_hashes([H.hash_string(r["name"])]) % 8, \
                (b, r["name"])
            seen.append((r["name"], r["n"]))
    assert sorted(seen, key=lambda t: t[1]) == rows


def test_minhash_lsh_hash_fn_pair_parity(spark):
    """VERDICT r7 #8: the xxhash64 fast path must find the same verified
    near-dup PAIRS as the oracle-checked md5 path on a corpus with
    unambiguous dups (sim ~1) and non-dups (sim ~0) - estimator parity,
    not signature equality."""
    from aliyun_maxcompute_data_collectors_spark.operators.dedup import minhash_lsh_pairs

    rows = []
    for i in range(8):
        # per-family vocabulary: cross-family Jaccard is exactly 0, the
        # within-family pair is ~1 - no borderline sims whose verdict
        # could legitimately differ between hash functions
        base = " ".join(f"tok{i}w{j}" for j in range(40))
        rows.append((i * 10, base))
        rows.append((i * 10 + 1, base + f" extra{i}"))
        rows.append((i * 10 + 2,
                     " ".join(f"solo{i}x{j}" for j in range(40))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    def pairs(fn):
        return sorted((r["id1"], r["id2"]) for r in minhash_lsh_pairs(
            df, "doc_id", "text", threshold=0.7, hash_fn=fn).collect())
    p_md5, p_xx = pairs("md5"), pairs("xxhash64")
    assert p_md5 == p_xx == [(i * 10, i * 10 + 1) for i in range(8)]
