"""Tests of the benchmark's own parts; none of them starts Spark.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402
from common import Recorder, _descendants, _wait_gone, stop_session  # noqa: E402
from tracer import Tracer, _union_ms  # noqa: E402


# -- seeded generator ------------------------------------------------------

def test_lake_op_log_digest_pins_the_seed():
    a = gen.lake_plan(7, cycles=2)
    assert a == gen.lake_plan(7, cycles=2)
    assert a != gen.lake_plan(8, cycles=2)
    assert a != gen.lake_plan(7, cycles=1)


def test_lake_cycles_apply_a_fixed_row_count():
    model = gen.OrdersModel(gen.orders_table(5, n=5_000))
    rows, kinds = [], []
    for kind, payload in gen.lake_ops(5, model):
        kinds.append(kind)
        if kind == "write":
            model.apply(payload)
            rows.append(len(set(payload["key"].tolist())))
        if kinds.count("maintain") == 3:
            break
    assert rows[:2] == list(gen.WARM_UP_SIZES)
    for c in range(2):
        assert sorted(rows[2 + 4 * c:6 + 4 * c]) == [100, 400, 700, 1000]
    assert kinds[:8] == ["write", "read", "read", "write", "read", "read", "refresh",
                         "maintain"]


def test_corpus_digest_pins_the_seed():
    assert gen.corpus_plan(1, 50, 20) == gen.corpus_plan(1, 50, 20)
    assert gen.corpus_plan(1, 50, 20) != gen.corpus_plan(2, 50, 20)


def test_corpus_follows_its_model():
    docs = gen.documents_table(4, 5_000).to_pandas()
    toks = docs.text.str.split()
    plain = toks[toks.str[-1] != "dup"].str.len()
    assert plain.min() >= gen.MIN_TOKENS and plain.max() <= gen.MAX_TOKENS
    assert set(w for ws in plain.index.map(toks.get) for w in ws) <= set(gen.WORDS)
    assert 0.04 < (toks.str[-1] == "dup").mean() < 0.06
    assert 0.37 < (docs.lang == "en").mean() < 0.43
    assert (docs.n_chars == docs.text.str.len()).all()
    vecs = gen.embeddings_table(4, 100)
    norms = np.linalg.norm(np.array(vecs["embedding"].to_pylist()), axis=1)
    assert np.allclose(norms, 1.0, atol=1e-5)


def test_changelog_replays_onto_the_model():
    model = gen.OrdersModel(gen.orders_table(3, n=2_000))
    live0 = model.live_rows()
    batch = gen.cdc_batch(3, 0, model, 700)
    assert len(set(batch["key"].tolist())) == 700
    model.apply(batch)
    # net effect per key is its op with the highest seq
    last = {}
    for k, op, s in zip(batch["key"], batch["op"], batch["seq"]):
        if k not in last or s > last[k][1]:
            last[k] = (op, s)
    base = set(range(2_000))
    gained = sum(op != "D" and k not in base for k, (op, _s) in last.items())
    lost = sum(op == "D" and k in base for k, (op, _s) in last.items())
    assert model.live_rows() == live0 + gained - lost
    agg = model.status_agg()
    assert sum(n for n, _s in agg.values()) == model.live_rows()


# -- statistics ------------------------------------------------------------

def test_p90_needs_ten_samples_beyond_it():
    v, why = stats.p90(list(range(99)))
    assert v is None and "9 beyond" in why
    v, why = stats.p90([float(x) for x in range(100)])
    assert why is None and v == 89.0


def test_summary_keeps_op_types_apart():
    s = stats.summarize({"write": [1.0, 3.0, 2.0], "read": [0.1] * 120})
    assert s["write"] == {"n": 3, "p50": 2.0,
                          "p90_omitted": "3 samples leave 0 beyond p90; 10 needed"}
    assert s["read"]["n"] == 120 and s["read"]["p50"] == 0.1 and s["read"]["p90"] == 0.1


def test_quartile_spread():
    assert stats.quartile_spread([10.0] * 5) == 0.0
    assert stats.quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx(3.0 / 3.0)


# -- op accounting -----------------------------------------------------------

def test_wrong_results_and_raising_ops_count_as_failed_and_the_run_goes_on():
    rec = Recorder(Tracer(False))
    rec.op("read", lambda: 41, check=lambda x: None if x == 42 else f"{x} != 42")

    def boom():
        raise RuntimeError("injected")

    assert rec.op("write", boom) is None
    assert rec.op("read", lambda: 42, check=lambda x: None if x == 42 else "bad") == 42
    assert rec.attempted == 3
    assert rec.failed == 2
    assert rec.error_rate == pytest.approx(2 / 3)
    assert len(rec.samples["read"]) == 2 and not rec.samples["write"]
    assert "wrong result" in rec.failures[0] and "raised RuntimeError" in rec.failures[1]


def test_between_runs_untimed_after_every_nth_op_also_a_failed_one():
    rec = Recorder(Tracer(False))
    calls = []
    rec.between = (2, lambda: calls.append(rec.attempted))

    def boom():
        raise RuntimeError("injected")

    for fn in (lambda: 1, boom, lambda: 3, lambda: 4, lambda: 5):
        rec.op("read", fn)
    assert calls == [2, 4]


def test_overhead_compares_untraced_runs_of_the_same_seed_and_code(tmp_path):
    out = str(tmp_path)
    layers.save_untraced(out, "lake_cdc", 1, "code-a", {"write_p50_s": 1.0})
    layers.save_untraced(out, "lake_cdc", 1, "code-b", {"write_p50_s": 9.0})
    layers.save_untraced(out, "lake_cdc", 12, "code-a", {"write_p50_s": 9.0})
    got = layers.overhead(out, "lake_cdc", 1, "code-a", {"write_p50_s": 1.5})
    assert got["untraced_runs"] == 1
    assert got["write_p50_s"]["overhead"] == pytest.approx(0.5)
    assert "omitted" in layers.overhead(out, "lake_cdc", 2, "code-a", {"write_p50_s": 1.5})


# -- tracer ------------------------------------------------------------------

def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    tr.begin_op(0, "read")
    with tr.span("snapshots.apply"):
        pass
    tr.end_op()
    tr.sample("snapshots.live_files", 3)
    assert tr.spans == [] and not tr.samples


def test_union_of_job_intervals():
    assert _union_ms([(0, 10), (5, 15), (20, 30)], 0, 100) == 25
    assert _union_ms([(0, 10), (5, 15)], 8, 12) == 4
    assert _union_ms([], 0, 10) == 0


# -- process cleanup -------------------------------------------------------

def test_descendants_are_found_and_waited_for():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(0.3)"])
    try:
        assert child.pid in _descendants(os.getpid())
        assert _wait_gone({child.pid}, 10.0) == set()
    finally:
        child.wait()


def test_stop_session_without_a_session_returns():
    stop_session(None, timeout_s=1.0)
