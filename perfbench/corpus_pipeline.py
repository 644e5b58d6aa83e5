"""corpus_pipeline: full passes of the LLM data-prep chain over a seeded
``documents`` / ``embeddings`` corpus.

One pass runs, in order, as one op each:

1. quality filters (``operators.text.filter_pipeline``, report mode);
2. exact dedup (``operators.dedup.exact_dedup``) of the kept documents;
3. MinHash LSH near-dup pairs (``operators.dedup.minhash_lsh_pairs``);
   the higher id of each pair is dropped;
4. ``operators.similarity.semantic_dedup`` of the embeddings;
5. an Avro round trip of the kept documents (``write_avro``, then
   ``read_avro`` and collect, ``READS`` times);
6. a bucketed ``OdpsCatalog.insert(overwrite=True)`` of what was read
   back, ``WRITES`` times;
7. a per-language summary of the output table through ``Engine.sql``,
   and a ``lookup_by_key`` point lookup of one kept document.

Stages 1-4 use the parameters of the registry rows ``filter_pipeline``,
``dedup_exact``, ``minhash_lsh`` and ``semantic_dedup_exact``, and each
result is checked against that row's DuckDB oracle SQL, evaluated once
before the timer over the previous stage's oracle output.
"""

from __future__ import annotations

from pyspark.sql import functions as F

import gen
from common import duck, keys_problem, oracle_keys, spark_keys
from tracer import dir_usage

N_DOCS = 2_000
N_VECS = 500
BUCKETS = 8
# reads of the Avro output and bucketed inserts per timed pass (the
# warm-up pass does one of each): a run has one timed pass
READS = 6
WRITES = 4
REPORT_COLS = ["doc_id", "ok_len", "ok_stopword", "ok_rep", "ok_lang", "kept",
               "drop_reason"]
FP_SQL = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"
SUMMARY_SQL = ("SELECT lang, COUNT(*) AS n, SUM(n_chars) AS chars "
               "FROM corpus_out GROUP BY lang")


def _rules():
    from aliyun_maxcompute_data_collectors_spark.operators.text import (
        dup_token_ratio, stopword_ratio, token_count)
    # the registry row filter_pipeline's rules
    return [
        ("len", token_count("text").between(15, 10000)),
        ("stopword", stopword_ratio("text") >= 0.02),
        ("rep", dup_token_ratio("text") <= 0.6),
        ("lang", F.col("lang").isin("en", "de", "fr")),
    ]


class _StageFailed(Exception):
    """A stage raised (and was counted as failed); the pass stops."""


class Workload:
    name = "corpus_pipeline"
    CYCLE_S = 7.5  # one pass on the 4-core box the benchmark was defined on

    def __init__(self, spark, ws, seed, tracer, rec, log):
        self.spark, self.ws, self.seed = spark, ws, seed
        self.tr, self.rec, self.log = tracer, rec, log
        self.pass_no = 0
        self.docs_done = 0

    # -- setup ------------------------------------------------------------
    def prepare(self) -> None:
        """Stage the corpus."""
        with self.tr.span("session.stage"):
            docs, vecs = gen.corpus(self.seed, N_DOCS, N_VECS)
            self.docs_path = gen.write_parquet(docs, self.ws.sub("documents.parquet"))
            self.vecs_path = gen.write_parquet(vecs, self.ws.sub("embeddings.parquet"))
        self.docs_rows = {r["doc_id"]: r for r in docs.to_pylist()}
        gen.log_tables(self.log, {"documents": docs, "embeddings": vecs})

    def build(self, rep: int) -> None:
        """A fresh engine catalog with the bucketed output table under
        ``build-<rep>``; the last build is the one the run uses."""
        from aliyun_maxcompute_data_collectors_spark.catalog import BucketSpec
        from aliyun_maxcompute_data_collectors_spark.engine import Engine
        with self.tr.span("session.stage"):
            self.engine = Engine(self.ws.sub(f"build-{rep}"), self.spark)
            self.cat = self.engine.catalog
            self.cat.create_table(
                "corpus_out", [("doc_id", "bigint"), ("text", "string"),
                               ("lang", "string"), ("source", "string"),
                               ("n_chars", "bigint")],
                bucket=BucketSpec("hash", BUCKETS, ["doc_id"]))

    def oracle(self) -> None:
        from aliyun_maxcompute_data_collectors_spark.queries import REGISTRY
        con = duck({"docs_src": self.docs_path, "embeddings": self.vecs_path})
        con.execute("CREATE VIEW documents AS SELECT * FROM docs_src")
        flt = REGISTRY["filter_pipeline"][1]
        self.want_filter = oracle_keys(con, flt)
        kept = [r[0] for r in con.execute(
            f"SELECT doc_id FROM ({flt}) WHERE kept").fetchall()]
        con.execute("CREATE TABLE kept_ids AS SELECT unnest(?::BIGINT[]) AS doc_id", [kept])
        con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM docs_src "
                    "WHERE doc_id IN (SELECT doc_id FROM kept_ids)")
        n_groups, n_docs, _dup, min_keep = con.execute(REGISTRY["dedup_exact"][1]).fetchone()
        self.want_exact = (int(n_groups), int(n_docs), int(min_keep))
        ed = [r[0] for r in con.execute(
            f"SELECT MIN(doc_id) FROM documents GROUP BY {FP_SQL}").fetchall()]
        con.execute("CREATE TABLE ed_ids AS SELECT unnest(?::BIGINT[]) AS doc_id", [ed])
        con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM docs_src "
                    "WHERE doc_id IN (SELECT doc_id FROM ed_ids)")
        mh = REGISTRY["minhash_lsh"][1]
        self.want_pairs = oracle_keys(con, mh)
        dropped = {r[0] for r in con.execute(f"SELECT id2 FROM ({mh})").fetchall()}
        self.want_kept = sorted(set(ed) - dropped)
        self.want_vecs = oracle_keys(con, REGISTRY["semantic_dedup_exact"][1])
        con.close()
        by_lang = {}
        for i in self.want_kept:
            row = self.docs_rows[i]
            n, chars = by_lang.get(row["lang"], (0, 0))
            by_lang[row["lang"]] = (n + 1, chars + row["n_chars"])
        self.want_summary = sorted((k, n, c) for k, (n, c) in by_lang.items())

    def warm_up(self) -> None:
        """One untimed, checked pass, so each stage has run once."""
        self.cycle(timed=False)

    # -- the loop ---------------------------------------------------------
    def _op(self, timed, kind, fn, check):
        if timed:
            out = self.rec.op(kind, fn, check)
            if out is None:  # raised: the stages after it have no input
                raise _StageFailed(kind)
            return out
        out = fn()
        problem = check(out)
        if problem:
            raise RuntimeError(f"warm-up {kind}: {problem}")
        return out

    def cycle(self, timed: bool = True) -> None:
        held = []
        try:
            self._pass(timed, held)
        except _StageFailed:
            pass
        finally:
            for df in held:
                df.unpersist()
        self.pass_no += 1

    def _pass(self, timed: bool, held: list) -> None:
        from aliyun_maxcompute_data_collectors_spark.operators import dedup as D
        from aliyun_maxcompute_data_collectors_spark.operators.similarity import semantic_dedup
        from aliyun_maxcompute_data_collectors_spark.operators.text import filter_pipeline
        from aliyun_maxcompute_data_collectors_spark.sources.avrofile import (
            read_avro, write_avro)

        t0 = self.rec.timed_s
        docs = self.spark.read.parquet(self.docs_path)
        vecs = self.spark.read.parquet(self.vecs_path)

        def keep(df):
            held.append(df.persist())
            return held[-1]

        def stage(span, build, fetch=lambda df: df.toPandas()):
            """One lazily built operator output, persisted for the next
            stage, and fetched for the check."""
            def run():
                with self.tr.span(span):
                    df = keep(build())
                    with self.tr.span("spark.query_exec"):
                        return df, fetch(df)
            return run

        rep, rep_pdf = self._op(
            timed, "filter",
            stage("operators.filter",
                  lambda: filter_pipeline(docs, _rules(), mode="report")),
            lambda out: keys_problem(spark_keys(out[0].select(REPORT_COLS),
                                                out[1][REPORT_COLS]), self.want_filter))
        kept = rep.where("kept").select(*docs.columns)

        ed, ed_pdf = self._op(
            timed, "exact_dedup",
            stage("operators.exact_dedup", lambda: D.exact_dedup(kept, "doc_id", "text"),
                  lambda df: df.select("doc_id").toPandas()),
            lambda out: self._exact_problem(out[1], rep_pdf))

        pairs, _ = self._op(
            timed, "minhash",
            stage("operators.minhash", lambda: D.minhash_lsh_pairs(
                ed, "doc_id", "text", k=D.DEFAULT_K, bands=D.DEFAULT_BANDS,
                threshold=0.8)),
            lambda out: keys_problem(spark_keys(*out), self.want_pairs))
        near = ed.join(pairs.select(F.col("id2").alias("doc_id")), "doc_id", "left_anti")

        self._op(
            timed, "semantic_dedup",
            stage("operators.semantic_dedup", lambda: semantic_dedup(
                vecs, "vec_id", "embedding", threshold=0.40, n_clusters=1
            ).select("vec_id")),
            lambda out: keys_problem(spark_keys(*out), self.want_vecs))

        avro_dir = self.ws.sub("avro", f"pass{self.pass_no}-{int(timed)}")

        def avro_write():
            with self.tr.span("sources.avro_write"):
                return write_avro(near, avro_dir)

        self._op(timed, "avro_write", avro_write,
                 lambda files: None if files else "no Avro files written")

        def avro_read():
            with self.tr.span("sources.avro_read"):
                df = read_avro(self.spark, avro_dir)
                with self.tr.span("spark.query_exec"):
                    return df, df.collect()

        for _ in range(READS if timed else 1):
            back, _rows = self._op(timed, "read", avro_read, self._kept_problem)

        def insert():
            with self.tr.span("catalog.insert"):
                self.cat.insert("corpus_out", back, overwrite=True)
            return True

        for _ in range(WRITES if timed else 1):
            self._op(timed, "write", insert, lambda _: self._kept_problem(
                (None, self.cat.read_table("corpus_out").collect())))

        def summary():
            with self.tr.span("engine.sql_plan"):
                df = self.engine.sql(SUMMARY_SQL)
            with self.tr.span("spark.query_exec"):
                return df.collect()

        self._op(timed, "query", summary, lambda rows: None if sorted(
            tuple(r) for r in rows) == self.want_summary else f"summary {sorted(rows)}")

        if self.want_kept:
            key = self.want_kept[int(gen.rng_for(self.seed, "lookup", self.pass_no).integers(
                0, len(self.want_kept)))]
            if timed:
                self.log.add("lookup", key)

            def lookup():
                with self.tr.span("catalog.lookup"):
                    return self.cat.lookup_by_key("corpus_out", {"doc_id": key}).collect()

            self._op(timed, "lookup", lookup, lambda rows: None if [
                r["text"] for r in rows] == [self.docs_rows[key]["text"]]
                else f"lookup {key}: {len(rows)} rows")
        if timed:
            # the stages' own timers: the checks between them do not count
            self.rec.samples["pass"].append(self.rec.timed_s - t0)
            self.docs_done += N_DOCS

    # -- checks -----------------------------------------------------------
    def _exact_problem(self, ed_pdf, rep_pdf) -> str | None:
        n_groups, n_docs, min_keep = self.want_exact
        got = (len(ed_pdf), int(rep_pdf["kept"].sum()), int(ed_pdf["doc_id"].min()))
        return None if got == self.want_exact else f"(groups, docs, min id) {got} != {self.want_exact}"

    def _kept_problem(self, out) -> str | None:
        rows = out[1]
        got = sorted((r["doc_id"], r["text"], r["lang"], r["source"], r["n_chars"])
                     for r in rows)
        want = [tuple(self.docs_rows[i][c] for c in
                      ("doc_id", "text", "lang", "source", "n_chars"))
                for i in self.want_kept]
        if got == want:
            return None
        return f"{len(got)} documents kept, expected {len(want)}"

    # -- after the timer --------------------------------------------------
    def space_amp(self) -> float:
        """Bytes under the output table's data dir over the bytes of its
        rows written once as one plain parquet file."""
        out = self.ws.sub("fresh_corpus")
        self.cat.read_table("corpus_out").coalesce(1).write.parquet(out)
        return dir_usage(self.cat.data_dir("corpus_out"))[0] / dir_usage(out)[0]

    def throughput(self, timed_s: float) -> tuple[float, str]:
        return self.docs_done / timed_s, "documents through the full pipeline"
