"""The benchmark's workloads. Each drives the engine's public operator
functions over seeded inputs and checks what they return.

A workload exposes:

* ``setup()`` -- one set-up repetition: the program-side state the
  operations run against (inputs written and read back, indexes and
  history state built). The runner repeats it and reports the median.
* ``warm_up()`` -- untimed operations that also run the full output
  checks once.
* ``op()`` -- one measured operation; returns (items processed, output
  correct).
* ``traced_op(tracer)`` -- the same operation with a span around every
  public call, each result materialized inside its span; returns the
  per-layer counts measured outside the spans and whether the output
  was correct.
* ``end_checks()`` -- checks that need the whole run; returns the checks
  and how many operations they found wrong.
* ``quality()`` -- the workload's output-quality figure.
"""

from __future__ import annotations

import os

import numpy as np

import gen
import reference
from spans import audit

ER_SAMPLE_PAIRS = 2000
SWEEP_ROWS = 101


def _collect_garbage(spark) -> None:
    """Full GC in Python and the JVM between heavy operations, so Spark's
    cleaner drops the previous operation's broadcasts and shuffle files
    and every operation starts from the same heap state (without it each
    operation of a run is slower than the one before)."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _materialize(df):
    """Persist and count: the span covers computing the whole result."""
    df = df.persist()
    df.count()
    return df


class EntityResolution:
    """The paper's pipeline: tokenize -> idf -> tf-idf weights -> cosine
    similarity join -> 101-threshold sweep against the gold pairs."""

    item = "records"
    ALIASES = [
        ("job_s", "op_p50_ms", 1e-3, "s"),
        ("records_per_s", "items_per_s", 1.0, "records/s"),
        ("best_f1", "quality", 1.0, "ratio"),
    ]
    TAIL = ("job_tail_s", 1e-3, "s")
    setup_reps = 3

    def __init__(self, spark, seed: int, out_dir: str, catalogs):
        from sparkbigdatatextanalysis_spark.operators import evaluation, similarity, tfidf

        self.tfidf, self.similarity, self.evaluation = tfidf, similarity, evaluation
        self.spark = spark
        self.cat = catalogs(seed)
        self.rng = np.random.default_rng([seed, 10])
        self.dir = os.path.join(out_dir, "er")
        self.ref = reference.TfIdf(self.cat.a, self.cat.b)
        a_toks = [self.ref.toks[i] for i, _ in self.cat.a]
        b_toks = [self.ref.toks[i] for i, _ in self.cat.b]
        self.n_candidates = reference.shared_token_pairs(a_toks, b_toks)
        self.n_pairs = len(self.cat.a) * len(self.cat.b)
        self.sweep_ref: list[tuple] = []
        self.best_f1 = 0.0

    @property
    def items_per_op(self) -> int:
        return len(self.cat.a) + len(self.cat.b)

    def _paths(self):
        return [os.path.join(self.dir, n) for n in ("a", "b", "gold")]

    def setup(self) -> None:
        from sparkbigdatatextanalysis_spark.sources.parquet_io import write_parquet

        s = self.spark
        frames = [
            s.createDataFrame(self.cat.a, "id long, text string"),
            s.createDataFrame(self.cat.b, "id long, text string"),
            s.createDataFrame(self.cat.gold, "a_id long, b_id long"),
        ]
        for df, path in zip(frames, self._paths()):
            write_parquet(df, path)
        for path in self._paths():
            s.read.parquet(path).count()

    def _inputs(self):
        return [self.spark.read.parquet(p) for p in self._paths()]

    def _sims(self, a, b):
        t = self.tfidf
        ta, tb = t.tokenized(a), t.tokenized(b)
        idf = t.idf_table(t.corpus_union(ta, tb))
        return self.similarity.cosine_similarity_join(
            t.tfidf_weights(ta, idf), t.tfidf_weights(tb, idf)
        )

    @staticmethod
    def _rows(sweep) -> list[tuple]:
        return sorted(
            (r["threshold"], r["tp"], r["fp"], r["fn"], r["fmeasure"]) for r in sweep
        )

    def _sweep_ok(self, rows: list[tuple]) -> bool:
        n_gold = len(self.cat.gold)
        return len(rows) == SWEEP_ROWS and all(tp + fn == n_gold for _, tp, _, fn, _ in rows)

    def warm_up(self) -> list[tuple[str, bool]]:
        """One operation with the full output checks; the first operation
        of a run is the slowest (cold JIT), so it is not timed."""
        a, b, g = self._inputs()
        sims = _materialize(self._sims(a, b))
        checks = [("candidate_pairs_equal_brute_force", sims.count() == self.n_candidates)]
        # every gold pair plus a sample of candidate and random pairs;
        # a pair the join did not emit has similarity 0
        a_ids = [i for i, _ in self.cat.a]
        b_ids = [i for i, _ in self.cat.b]
        sample = set(self.cat.gold)
        while len(sample) < len(self.cat.gold) + ER_SAMPLE_PAIRS:
            sample.add(
                (a_ids[int(self.rng.integers(len(a_ids)))], b_ids[int(self.rng.integers(len(b_ids)))])
            )
        sample |= {
            (r["a_id"], r["b_id"])
            for r in sims.select("a_id", "b_id").limit(ER_SAMPLE_PAIRS).collect()
        }
        probe = self.spark.createDataFrame(sorted(sample), "a_id long, b_id long")
        got = {
            (r["a_id"], r["b_id"]): r["sim"]
            for r in sims.join(probe, ["a_id", "b_id"]).collect()
        }
        checks.append(
            (
                "sampled_cosines_match_reference",
                all(abs(got.get(p, 0.0) - self.ref.cosine(*p)) <= 1e-9 for p in sample),
            )
        )
        self.sweep_ref = self._rows(self.evaluation.threshold_sweep(sims, g).collect())
        checks.append(("sweep_101_rows_tp_plus_fn_is_gold", self._sweep_ok(self.sweep_ref)))
        self.best_f1 = max((r[4] or 0.0) for r in self.sweep_ref) if self.sweep_ref else 0.0
        self.after_op()
        return checks

    def op(self) -> tuple[int, bool]:
        a, b, g = self._inputs()
        rows = self._rows(self.evaluation.threshold_sweep(self._sims(a, b), g).collect())
        return self.items_per_op, self._matches_ref(rows)

    def after_op(self) -> None:
        # threshold_sweep and the bitmask/dense strategies persist
        # intermediates they never release; drop them between operations
        self.spark.catalog.clearCache()
        _collect_garbage(self.spark)

    def _matches_ref(self, rows: list[tuple]) -> bool:
        """Same sweep as the verified one, allowing a pair or two to sit
        in a neighbouring bin: a similarity within rounding of a bin edge
        may land on either side depending on summation order."""
        if not self._sweep_ok(rows) or len(rows) != len(self.sweep_ref):
            return False
        return all(
            x[0] == y[0] and abs(x[1] - y[1]) <= 2 and abs(x[2] - y[2]) <= 2
            for x, y in zip(rows, self.sweep_ref)
        )

    def traced_op(self, tr) -> tuple[dict, bool]:
        from pyspark.sql import functions as F

        t, sim, ev = self.tfidf, self.similarity, self.evaluation
        a, b, g = self._inputs()
        counts: dict = {}
        with tr.span("tfidf.tokenize") as s:
            ta, tb = t.tokenized(a), t.tokenized(b)
            s.counts.update(audit(ta))
            ta, tb = _materialize(ta), _materialize(tb)
        with tr.span("tfidf.idf") as s:
            idf = t.idf_table(t.corpus_union(ta, tb))
            s.counts.update(audit(idf))
            idf = _materialize(idf)
        with tr.span("tfidf.weights") as s:
            wa, wb = t.tfidf_weights(ta, idf), t.tfidf_weights(tb, idf)
            s.counts.update(audit(wa))
            wa, wb = _materialize(wa), _materialize(wb)
        with tr.span("similarity.join") as s:
            sims = sim.cosine_similarity_join(wa, wb)
            s.counts.update(audit(sims))
            sims = _materialize(sims)
        with tr.span("evaluation.sweep") as s:
            sweep = ev.threshold_sweep(sims, g)
            s.counts.update(audit(sweep))
            rows = self._rows(sweep.collect())
        with tr.untraced():
            # the sparse join reads the weight tables directly and builds
            # no inverted index; the postings are counted here only to
            # size the token join
            ia, ib = sim.inverted_index(ta), sim.inverted_index(tb)
            n_tokens = ta.select(F.size("tokens").alias("n")).union(
                tb.select(F.size("tokens").alias("n"))
            ).agg(F.sum("n")).first()[0]
            dfa = ia.groupBy("token").count().withColumnRenamed("count", "da")
            dfb = ib.groupBy("token").count().withColumnRenamed("count", "db")
            join_rows = dfa.join(dfb, "token").agg(F.sum(F.col("da") * F.col("db"))).first()[0]
            cand = sims.count()
            counts.update(
                {
                    "tfidf.tokens": n_tokens,
                    "tfidf.vocab": idf.count(),
                    "tfidf.weight_rows": wa.count() + wb.count(),
                    "similarity.postings": ia.count() + ib.count(),
                    "similarity.join_rows": join_rows or 0,
                    "similarity.candidate_pairs": cand,
                    "similarity.blocking_ratio": cand / self.n_pairs,
                    "similarity.pairs_per_join_row": cand / join_rows if join_rows else 0.0,
                    "evaluation.gold_matched": sims.join(g, ["a_id", "b_id"]).count(),
                }
            )
        return counts, self._matches_ref(rows)

    def end_checks(self) -> tuple[list[tuple[str, bool]], int]:
        return [], 0

    def summary(self) -> dict:
        return {"best_f1": self.best_f1, "candidate_pairs": self.n_candidates,
                "blocking_ratio": self.n_candidates / self.n_pairs}

    def quality(self) -> float:
        return self.best_f1


class IngestDaily:
    """Daily dedup ingest: each operation is one day's batch through the
    streaming verdict processor against parquet state that grows as kept
    documents' deltas are appended."""

    item = "docs"
    ALIASES = [
        ("batch_p50_s", "op_p50_ms", 1e-3, "s"),
        ("ingest_docs_per_s", "items_per_s", 1.0, "docs/s"),
        ("verdict_f1", "quality", 1.0, "ratio"),
    ]
    TAIL = ("batch_tail_s", 1e-3, "s")
    setup_reps = 3
    SEM_THRESHOLD = 0.9
    # batch id of the history; measured batches follow it
    HISTORY_BATCH = 0

    def __init__(self, spark, seed: int, out_dir: str):
        self.spark = spark
        self.days = gen.ingest_days(seed)
        self.dir = os.path.join(out_dir, "ingest")
        self.next_batch = self.HISTORY_BATCH + 1
        self.next_day = 0
        self.emb = None
        self.proc = None

    @property
    def items_per_op(self) -> int:
        return len(self.days.batches[0])

    def _state(self) -> tuple[str, str]:
        return os.path.join(self.dir, "state"), os.path.join(self.dir, "flags")

    def _inputs(self) -> tuple[str, str]:
        return os.path.join(self.dir, "history"), os.path.join(self.dir, "embeddings")

    def _docs(self, rows):
        return self.spark.createDataFrame(rows, "doc_id long, text string")

    def setup(self) -> None:
        """Write the history documents and the embedding lookup with
        ``write_parquet`` and read them back."""
        from sparkbigdatatextanalysis_spark.sources.parquet_io import write_parquet

        s = self.spark
        emb = s.createDataFrame(
            sorted(self.days.embeddings.items()),
            "vec_id long, embedding array<double>",
        )
        for df, path in zip((self._docs(self.days.history), emb), self._inputs()):
            write_parquet(df, path)
        for path in self._inputs():
            s.read.parquet(path).count()

    def _model(self):
        """The static embedding lookup and the pinned centroids."""
        if self.emb is None:
            self.emb = _materialize(self.spark.read.parquet(self._inputs()[1]))
            c = self.days.centroids
            self.cents = self.spark.createDataFrame(
                [(i, v.tolist(), float(np.linalg.norm(v))) for i, v in enumerate(c)],
                "c_id int, cv array<double>, cn double",
            )
        return self.emb, self.cents

    def warm_up(self) -> list[tuple[str, bool]]:
        """The whole history through the processor in one call: it builds
        the parquet state the daily batches probe, and warms the JIT."""
        from sparkbigdatatextanalysis_spark.streaming.ingest import verdict_batch_processor

        state, flags = self._state()
        emb, cents = self._model()
        self.proc = verdict_batch_processor(
            state, flags, emb_lookup=emb, cents=cents, sem_threshold=self.SEM_THRESHOLD
        )
        self.proc(self.spark.read.parquet(self._inputs()[0]), self.HISTORY_BATCH)
        self.after_op()
        n = self.spark.read.parquet(flags).where(f"ingest_batch = {self.HISTORY_BATCH}").count()
        return [("history_state_built", n == len(self.days.history))]

    def _batch(self):
        if self.next_day >= len(self.days.batches):
            raise RuntimeError("ran out of generated daily batches")
        rows = self.days.batches[self.next_day]
        self.next_day += 1
        bid = self.next_batch
        self.next_batch += 1
        return rows, self._docs(rows), bid

    def op(self) -> tuple[int, bool]:
        rows, df, bid = self._batch()
        self.proc(df, bid)
        return len(rows), True

    def after_op(self) -> None:
        _collect_garbage(self.spark)

    def traced_op(self, tr) -> tuple[dict, bool]:
        """The batch's families called one by one (each in its span, on
        the same pre-batch state), then the processor itself."""
        from pyspark.sql import functions as F
        from sparkbigdatatextanalysis_spark.functions.lineage import release
        from sparkbigdatatextanalysis_spark.operators import dedup, pipeline

        s_ = self.spark
        state, _ = self._state()
        rows, df, bid = self._batch()
        emb, cents = self._model()
        counts: dict = {}
        with tr.span("sources.read") as s:
            hh = _materialize(s_.read.parquet(f"{state}/hashes").drop("ingest_batch"))
            hb = _materialize(s_.read.parquet(f"{state}/bands").drop("ingest_batch"))
            reps = _materialize(s_.read.parquet(f"{state}/reps").drop("ingest_batch"))
            sp_keyed = _materialize(s_.read.parquet(f"{state}/span_counts"))
            ln_keyed = _materialize(s_.read.parquet(f"{state}/line_counts"))
            s.counts.update(audit(hh))
        sp_hist = sp_keyed.groupBy("h").agg(F.sum("cnt").alias("cnt"))
        ln_hist = ln_keyed.groupBy("line").agg(F.sum("cnt").alias("cnt"))
        with tr.span("dedup.near") as s:
            near = dedup.incremental_dedup(df, hh, hb)
            s.counts.update(audit(near.result))
            near_rows = _materialize(near.result)
        with tr.span("dedup.spans") as s:
            sp = dedup.incremental_duplicate_spans(df, sp_hist)
            s.counts.update(audit(sp.spans))
            sp_delta = _materialize(sp.delta_counts)
            _materialize(sp.spans)
        with tr.span("pipeline.lines") as s:
            ln = pipeline.incremental_dedup_lines(df, ln_hist)
            s.counts.update(audit(ln.result))
            _materialize(ln.result)
            ln_delta = _materialize(ln.delta_counts)
        with tr.span("dedup.semantic") as s:
            batch_emb = emb.join(df.select(F.col("doc_id").alias("vec_id")), "vec_id")
            sem = dedup.incremental_semantic_dedup(batch_emb, reps, self.SEM_THRESHOLD, cents)
            s.counts.update(audit(sem.result))
            _materialize(sem.result)
        with tr.span("pipeline.merge") as s:
            m1 = pipeline.merge_counts_keyed(sp_keyed, sp_delta, bid)
            m2 = pipeline.merge_counts_keyed(ln_keyed, ln_delta, bid)
            s.counts.update(audit(m2.appended))
            _materialize(m1.appended)
            _materialize(m2.appended)
        with tr.untraced():
            verdict = pipeline.incremental_ingest_verdict(
                df, hh, hb, sp_hist, ln_hist, batch_emb, reps, cents, self.SEM_THRESHOLD
            )
            verdict_audit = audit(verdict.result)
            for h in (verdict.bands, verdict.fingerprints, verdict.assignments):
                release(h)
            flagged = near_rows.where(F.col("near_dup_history") | F.col("near_dup_batch"))
            flagged_ids = [r["doc_id"] for r in flagged.select("doc_id").collect()]
            n_hist = hh.count()
            bytes_before = _tree_bytes(self.dir)
        for h in (near.bands, sp.fingerprints, sem.assignments):
            release(h)
        for h in (hh, hb, reps, sp_keyed, ln_keyed, near_rows, sp_delta, ln_delta):
            h.unpersist()
        for h in (sp.spans, ln.result, sem.result, m1.appended, m2.appended):
            h.unpersist()
        with tr.span("pipeline.verdict") as s:
            self.proc(df, bid)
            s.counts.update(verdict_audit)
        with tr.untraced():
            labels = self.days.labels
            _, flags = self._state()
            kept = s_.read.parquet(flags).where(f"ingest_batch = {bid} AND keep").count()
            counts.update(
                {
                    "dedup.lsh_candidates": len(flagged_ids),
                    "dedup.lsh_precision": (
                        sum(labels[i] in gen.DROP_KINDS for i in flagged_ids) / len(flagged_ids)
                        if flagged_ids
                        else 0.0
                    ),
                    "pipeline.history_rows": n_hist,
                    "pipeline.kept_docs": kept,
                    "sources.bytes_written": _tree_bytes(self.dir) - bytes_before,
                }
            )
        return counts, True

    def end_checks(self) -> tuple[list[tuple[str, bool]], int]:
        """Compare every measured batch's verdict with the planted labels;
        a batch with a missing verdict or a kept exact duplicate is a
        failed operation."""
        _, flags = self._state()
        first = self.HISTORY_BATCH + 1
        got = {
            r["doc_id"]: (r["keep"], r["n_dup_spans"])
            for r in self.spark.read.parquet(flags)
            .where(f"ingest_batch >= {first}")
            .select("doc_id", "keep", "n_dup_spans")
            .collect()
        }
        want = {
            i: k
            for batch in self.days.batches[: self.next_day]
            for i, k in ((d, self.days.labels[d]) for d, _ in batch)
        }
        self.confusion = {"tp": 0, "fp": 0, "fn": 0, "tn": 0, "span_hits": 0, "spans": 0}
        c = self.confusion
        for i, kind in want.items():
            keep, n_spans = got.get(i, (True, 0))
            drop = kind in gen.DROP_KINDS
            c[("fn" if keep else "tp") if drop else ("fp" if not keep else "tn")] += 1
            if kind == "substring":
                c["spans"] += 1
                c["span_hits"] += n_spans > 0
        def batch_ok(batch) -> bool:
            return all(
                d in got and not (self.days.labels[d] in ("exact_hist", "exact_batch") and got[d][0])
                for d, _ in batch
            )

        failed = sum(not batch_ok(b) for b in self.days.batches[: self.next_day])
        exact = [i for i, k in want.items() if k in ("exact_hist", "exact_batch")]
        checks = [
            ("one_verdict_per_batch_doc", set(got) == set(want)),
            ("every_planted_exact_duplicate_dropped", all(not got.get(i, (True,))[0] for i in exact)),
        ]
        return checks, failed

    def summary(self) -> dict:
        c = self.confusion
        dups = c["tp"] + c["fn"]
        uniq = c["fp"] + c["tn"]
        return {
            "dup_recall": c["tp"] / dups if dups else 0.0,
            "false_drop_rate": c["fp"] / uniq if uniq else 0.0,
            "substring_span_recall": c["span_hits"] / c["spans"] if c["spans"] else 0.0,
            **c,
        }

    def quality(self) -> float:
        """F1 of the keep/drop verdict against the planted labels."""
        c = self.confusion
        denom = 2 * c["tp"] + c["fp"] + c["fn"]
        return 2 * c["tp"] / denom if denom else 0.0


def _tree_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Bm25Serve:
    """Closed-loop BM25 serving: one client, one 1-3 term query at a time,
    top-10 over a tokenized corpus persisted during set-up."""

    item = "queries"
    ALIASES = [
        ("query_p50_ms", "op_p50_ms", 1.0, "ms"),
        ("queries_per_s", "items_per_s", 1.0, "q/s"),
        ("topk_agreement", "quality", 1.0, "ratio"),
    ]
    TAIL = ("query_tail_ms", 1.0, "ms")
    setup_reps = 3
    # query latency falls over the first ~10 queries of a run (JIT)
    WARM_QUERIES = 10
    K = 10
    N_QUERIES = 5000

    def __init__(self, spark, seed: int, out_dir: str):
        from sparkbigdatatextanalysis_spark.operators import retrieval, tfidf

        self.retrieval, self.tfidf = retrieval, tfidf
        self.spark = spark
        self.docs = gen.corpus(seed)
        toks = [reference.tokens(t) for _, t in self.docs]
        self.ref = reference.Bm25([(i, ts) for (i, _), ts in zip(self.docs, toks)])
        self.queries = gen.bm25_queries(seed, toks, self.N_QUERIES)
        self.next_q = 0
        self.dir = os.path.join(out_dir, "bm25")
        self.tok = None
        self.agree = 0
        self.checked = 0

    items_per_op = 1

    def setup(self) -> None:
        from sparkbigdatatextanalysis_spark.sources.parquet_io import write_parquet

        if self.tok is not None:
            self.tok.unpersist()
        path = os.path.join(self.dir, "corpus")
        write_parquet(self.spark.createDataFrame(self.docs, "id long, text string"), path)
        self.tok = _materialize(self.tfidf.tokenized(self.spark.read.parquet(path)))

    def _query(self):
        if self.next_q >= len(self.queries):
            raise RuntimeError("ran out of generated queries")
        q = self.queries[self.next_q]
        self.next_q += 1
        return q, self.spark.createDataFrame([(0, t) for t in q], "query_id int, term string")

    def _check(self, q, rows) -> bool:
        got = [(r["id"], r["score"]) for r in sorted(rows, key=lambda r: r["rank"])]
        ok = reference.topk_agrees(got, self.ref.scores(q), self.K)
        self.checked += 1
        self.agree += ok
        return ok

    def warm_up(self) -> list[tuple[str, bool]]:
        oks = [self.op()[1] for _ in range(self.WARM_QUERIES)]
        return [("warm_up_topk_match_reference", all(oks))]

    def op(self) -> tuple[int, bool]:
        q, qdf = self._query()
        rows = self.retrieval.bm25_batch_topk(self.tok, qdf, k=self.K).collect()
        return 1, self._check(q, rows)

    def after_op(self) -> None:
        pass

    def traced_op(self, tr) -> tuple[dict, bool]:
        q, qdf = self._query()
        with tr.span("retrieval.query") as s:
            top = self.retrieval.bm25_batch_topk(self.tok, qdf, k=self.K)
            s.counts.update(audit(top))
            rows = top.collect()
        with tr.untraced():
            scored = self.retrieval.bm25_batch_scores(self.tok, qdf).count()
        counts = {
            "retrieval.scored_rows": scored,
            "retrieval.rows_per_hit": scored / len(rows) if rows else 0.0,
        }
        return counts, self._check(q, rows)

    def end_checks(self) -> tuple[list[tuple[str, bool]], int]:
        return [], 0

    def summary(self) -> dict:
        return {"queries_checked": self.checked, "queries_agreeing": self.agree}

    def quality(self) -> float:
        """Share of answered queries whose top-k equals the reference."""
        return self.agree / self.checked if self.checked else 0.0


def _er_sparse_catalogs(seed: int) -> gen.Catalogs:
    # an eighth of the reference's pairs (482 x 1,140 records, 460 gold),
    # with its vocabulary law and blocking ratio: a benchmark pass runs
    # every workload 22 times within a fixed time budget, and the full
    # shape costs 8.5-9 s per operation and 17 s cold on a 4-core host
    return gen.sparse_catalogs(seed, n_a=482, n_b=1140, n_gold=460)


WORKLOADS = {
    "er_sparse": lambda spark, seed, out: EntityResolution(spark, seed, out, _er_sparse_catalogs),
    "ingest_daily": IngestDaily,
    "bm25_serve": Bm25Serve,
}
