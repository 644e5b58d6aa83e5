"""Seeded inputs for the perfbench workloads.

Everything the program under test sees is made here from the workload
seed: the base ``orders`` table (TPC-H shaped, at the sf0.1 row
count), the CDC changelog batches and read ranges, and the
``documents`` / ``embeddings`` corpus.  Nothing here
imports Spark, so the op log and its digest can be made and tested
without a session.

The lake changelog is generated against :class:`OrdersModel`, an
in-memory numpy model of the table.  The same model replays each batch
outside the timer and answers the correctness checks.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ORDERS = 150_000
N_CUSTOMERS = 15_000
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EPOCH_US = 788_918_400_000_000  # 1995-01-01T00:00:00 UTC
DAY_US = 86_400_000_000
N_DAYS = 8 * 365

# The corpus follows the sf0.1 ``documents`` / ``embeddings`` tables the
# registry rows are checked on (README, "Corpus"): these 30 words drawn
# uniformly, 10-100 tokens a document, English for 40% and each other
# language 15%, 20 sources in turn, 5% of documents another's text with
# " dup" appended, 0.16% an exact copy of another's; unit-norm Gaussian
# embeddings with labels 0-9.
WORDS = ("spark window table merge column value stream vector small data "
         "filter big join group sort hash customer line order slow part "
         "fast row the agg key a query scan batch").split()
MIN_TOKENS, MAX_TOKENS = 10, 100
LANGS = ("en", "de", "fr", "zh", "es")
LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.0016
EMB_DIM = 64


def rng_for(seed: int, *stream) -> np.random.Generator:
    """An independent generator per (seed, stream name...)."""
    tag = int.from_bytes(hashlib.sha256(
        json.dumps([seed, *stream]).encode()).digest()[:8], "little")
    return np.random.default_rng(tag)


class OpLog:
    """Running SHA-256 over every generated input, in the order the
    workload consumes them."""

    def __init__(self):
        self._h = hashlib.sha256()
        self.n = 0

    def add(self, kind: str, payload) -> None:
        if isinstance(payload, np.ndarray):
            payload = payload.tobytes()
        elif not isinstance(payload, bytes):
            payload = json.dumps(payload, sort_keys=True, default=str).encode()
        self._h.update(kind.encode() + b"\0" + payload)
        self.n += 1

    def digest(self) -> str:
        return self._h.hexdigest()[:16]


# -- base tables ---------------------------------------------------------

def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(EPOCH_US + days.astype(np.int64) * DAY_US,
                    type=pa.timestamp("us"))


def orders_table(seed: int, n: int = N_ORDERS) -> pa.Table:
    r = rng_for(seed, "orders")
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": r.integers(0, N_CUSTOMERS, n),
        "o_orderstatus": pa.array(np.array(STATUSES)[r.integers(0, 3, n)]),
        "o_totalprice": np.round(r.uniform(1000, 500_000, n), 2),
        "o_orderdate": _ts(r.integers(0, N_DAYS, n)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, n)]),
    })


def documents_table(seed: int, n: int) -> pa.Table:
    """``n`` documents of word salad, some of them copies of others:
    near duplicates (``" dup"`` appended) and exact ones."""
    r = rng_for(seed, "documents")
    words = np.array(WORDS)
    texts = [" ".join(words[r.integers(0, len(words), k)])
             for k in r.integers(MIN_TOKENS, MAX_TOKENS + 1, n)]
    roll = r.random(n)
    for i in range(n):
        if roll[i] < NEAR_DUP_SHARE + EXACT_DUP_SHARE:
            j = int(r.integers(0, n - 1))
            j += j >= i
            texts[i] = texts[j] + (" dup" if roll[i] < NEAR_DUP_SHARE else "")
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[r.choice(len(LANGS), n, p=LANG_P)]),
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings_table(seed: int, n: int) -> pa.Table:
    """``n`` independent Gaussian vectors scaled to unit norm."""
    r = rng_for(seed, "embeddings")
    vecs = r.standard_normal((n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": r.integers(0, 10, n).astype(np.int32),
    })


def write_parquet(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


# -- lake_cdc: model and changelog --------------------------------------

class OrdersModel:
    """Columnar in-memory model of the ``orders`` snapshot table, indexed
    by order key (keys are dense: base keys are 0..n-1 and inserts take
    the next unused key)."""

    def __init__(self, base: pa.Table):
        n = base.num_rows
        self.next_key = n
        cap = n * 2
        self.alive = np.zeros(cap, dtype=bool)
        self.alive[:n] = True
        self.cust = np.zeros(cap, dtype=np.int64)
        self.status = np.zeros(cap, dtype=np.int8)
        self.price = np.zeros(cap, dtype=np.float64)
        self.date = np.zeros(cap, dtype=np.int64)
        self.prio = np.zeros(cap, dtype=np.int8)
        self.cust[:n] = base["o_custkey"].to_numpy()
        self.status[:n] = _codes(base["o_orderstatus"], STATUSES)
        self.price[:n] = base["o_totalprice"].to_numpy()
        self.date[:n] = base["o_orderdate"].cast(pa.int64()).to_numpy()
        self.prio[:n] = _codes(base["o_orderpriority"], PRIORITIES)

    def _grow(self, need: int) -> None:
        if need <= len(self.alive):
            return
        cap = max(need, 2 * len(self.alive))
        for f in ("alive", "cust", "status", "price", "date", "prio"):
            a = getattr(self, f)
            b = np.zeros(cap, dtype=a.dtype)
            b[:len(a)] = a
            setattr(self, f, b)

    def live_keys(self) -> np.ndarray:
        return np.flatnonzero(self.alive)

    def apply(self, batch: dict) -> None:
        """Replay one changelog batch (ops in ``seq`` order)."""
        order = np.argsort(batch["seq"], kind="stable")
        self._grow(int(batch["key"].max()) + 1)
        for i in order:
            k = batch["key"][i]
            if batch["op"][i] == "D":
                self.alive[k] = False
                continue
            self.alive[k] = True
            self.cust[k] = batch["cust"][i]
            self.status[k] = batch["status"][i]
            self.price[k] = batch["price"][i]
            self.date[k] = batch["date"][i]
            self.prio[k] = batch["prio"][i]

    def range_agg(self, lo: int, hi: int) -> dict:
        """{status: (count, sum price)} over live keys in [lo, hi]."""
        sl = slice(lo, min(hi, len(self.alive) - 1) + 1)
        m = self.alive[sl]
        return _status_agg(self.status[sl][m], self.price[sl][m])

    def status_agg(self) -> dict:
        m = self.alive
        return _status_agg(self.status[m], self.price[m])

    def live_rows(self) -> int:
        return int(self.alive.sum())


def _codes(col: pa.ChunkedArray, values: tuple) -> np.ndarray:
    lookup = {v: i for i, v in enumerate(values)}
    return np.array([lookup[v] for v in col.to_pylist()], dtype=np.int8)


def _status_agg(status: np.ndarray, price: np.ndarray) -> dict:
    cnt = np.bincount(status, minlength=len(STATUSES))
    tot = np.bincount(status, weights=price, minlength=len(STATUSES))
    return {STATUSES[i]: (int(cnt[i]), float(tot[i]))
            for i in range(len(STATUSES)) if cnt[i]}


def cdc_batch(seed: int, batch_no: int, model: OrdersModel, n: int) -> dict:
    """One changelog batch of ``n`` ops: ~50% updates, ~25% inserts,
    ~25% deletes, with ~5% of the touched keys getting a second op later
    in the batch (so net-effect reduction matters)."""
    r = rng_for(seed, "cdc", batch_no)
    n_ins = n // 4
    n_del = n // 4
    n_upd = n - n_ins - n_del
    live = model.live_keys()
    picked = r.choice(live, n_upd + n_del, replace=False)
    ins = np.arange(model.next_key, model.next_key + n_ins, dtype=np.int64)
    keys = np.concatenate([picked[:n_upd], ins, picked[n_upd:]])
    ops = np.array(["U"] * n_upd + ["I"] * n_ins + ["D"] * n_del)
    n_twice = max(1, n // 20)
    again = r.choice(n_upd + n_ins, n_twice, replace=False)
    keys = np.concatenate([keys, keys[again]])
    ops = np.concatenate([ops, np.where(r.random(n_twice) < 0.5, "U", "D")])
    m = len(keys)
    model.next_key += n_ins
    return {
        "key": keys,
        "op": ops,
        "seq": r.permutation(n).tolist() + list(range(n, m)),
        "cust": r.integers(0, N_CUSTOMERS, m),
        "status": r.integers(0, 3, m).astype(np.int8),
        "price": np.round(r.uniform(1000, 500_000, m), 2),
        "date": EPOCH_US + r.integers(0, N_DAYS, m) * DAY_US,
        "prio": r.integers(0, 5, m).astype(np.int8),
    }


def batch_arrow(batch: dict) -> pa.Table:
    return pa.table({
        "o_orderkey": batch["key"],
        "o_custkey": batch["cust"],
        "o_orderstatus": pa.array(np.array(STATUSES)[batch["status"]]),
        "o_totalprice": batch["price"],
        "o_orderdate": pa.array(batch["date"], type=pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[batch["prio"]]),
        "op": pa.array(batch["op"]),
        "seq": np.asarray(batch["seq"], dtype=np.int64),
    })


def log_batch(log: OpLog, batch: dict) -> None:
    log.add("cdc", b"".join(np.asarray(batch[f]).astype(
        np.int64 if f != "op" else "U1").tobytes()
        for f in ("key", "op", "seq", "status", "price", "prio")))


def read_range(seed: int, read_no: int, model: OrdersModel,
               width: int = 5_000) -> tuple[int, int]:
    lo = int(rng_for(seed, "read", read_no).integers(0, model.next_key - width))
    return lo, lo + width - 1


# batch sizes of one lake_cdc cycle, in a seeded order: a fixed row count
# per cycle, mixed sizes within it; the warm-up cycle is shorter
BATCH_SIZES = (100, 400, 700, 1000)
WARM_UP_SIZES = (400, 700)
REFRESH_EVERY = 2
# head reads after each batch, each over its own key range: a run has one
# timed cycle, and 4 reads would leave the read median resting on two
READS_PER_BATCH = 2


def lake_ops(seed: int, model: OrdersModel):
    """The lake_cdc op sequence, cycle after cycle: ``("write", batch)``
    and ``READS_PER_BATCH`` times ``("read", (lo, hi))`` per batch, ``("refresh", None)`` after
    every ``REFRESH_EVERY`` batches, and ``("maintain", None)`` closing
    the cycle.  Cycle 0 is the warm-up.  The caller replays each batch
    onto ``model`` before taking the next op."""
    b = 0
    for cycle in itertools.count():
        sizes = WARM_UP_SIZES if cycle == 0 else [
            BATCH_SIZES[i] for i in rng_for(seed, "sizes", cycle).permutation(
                len(BATCH_SIZES))]
        for i, n in enumerate(sizes, 1):
            yield "write", cdc_batch(seed, b, model, n)
            b += 1
            for k in range(READS_PER_BATCH):
                yield "read", read_range(seed, READS_PER_BATCH * b + k, model)
            if i % REFRESH_EVERY == 0 or i == len(sizes):
                yield "refresh", None
        yield "maintain", None


def log_lake_op(log: OpLog, kind: str, payload) -> None:
    if kind == "write":
        log_batch(log, payload)
    elif kind == "read":
        log.add("read", payload)


def lake_plan(seed: int, cycles: int) -> str:
    """The op log digest of a lake_cdc run of ``cycles`` timed cycles,
    made without Spark."""
    model = OrdersModel(orders_table(seed))
    log = OpLog()
    done = -1
    for kind, payload in lake_ops(seed, model):
        log_lake_op(log, kind, payload)
        if kind == "write":
            model.apply(payload)
        elif kind == "maintain":
            done += 1
            if done == cycles:
                return log.digest()


# -- corpus_pipeline -----------------------------------------------------

def log_tables(log: OpLog, tables: dict[str, pa.Table]) -> None:
    for name, tab in sorted(tables.items()):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tab.schema) as w:
            w.write_table(tab)
        log.add(name, sink.getvalue().to_pybytes())


def corpus(seed: int, n_docs: int, n_vecs: int) -> tuple[pa.Table, pa.Table]:
    """The seed's corpus: documents and embeddings."""
    return documents_table(seed, n_docs), embeddings_table(seed, n_vecs)


def corpus_plan(seed: int, n_docs: int, n_vecs: int) -> str:
    """The op log digest of a corpus_pipeline run: every pass reads the
    same corpus, so it is the corpus alone."""
    log = OpLog()
    docs, vecs = corpus(seed, n_docs, n_vecs)
    log_tables(log, {"documents": docs, "embeddings": vecs})
    return log.digest()
