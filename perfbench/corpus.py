"""``corpus_mix``: curated-corpus ingest beside streaming BM25 serving.

Ops come in periods of one ingest batch and three serve batches, in a
seeded order within each period; the timed window is whole periods.

- ingest: ``INGEST_DOCS`` arriving docs (a share are planted near-dups
  of corpus docs, a share near-dups of each other) go through
  ``extensions.dedup.incremental_near_dup_pairs`` against the persisted
  MinHash band index, intra-batch ``minhash_dedup_pairs`` and the
  ``textstats.quality_score`` filter; accepted docs are appended to a
  curated parquet table.
- serve: one file of ``SERVE_QUERIES`` text queries lands in the query
  directory and ``streaming.bm25serve.stream_bm25_topk`` answers it
  (availableNow, one file per trigger) from the token-stats artifact.

Both artifacts are built in set-up. Checks (after the timed window):
serve rows equal a batch ``bm25_topk`` over the same queries and the
same artifact, and every reported duplicate pair has exact 3-shingle
Jaccard at or above the threshold.
"""

from __future__ import annotations

import contextlib
import os
import random
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench.common import load_script, median

SCALE = 2.0        # sfgen multiplier: 1k corpus documents
INGEST_DOCS = 200
SERVE_QUERIES = 32
NEAR_CORPUS = 0.2  # share of arriving docs planted as near-dups of the corpus
NEAR_BATCH = 0.1   # share planted as near-dups of another arriving doc
THRESHOLD = 0.8
TOPK = 5
PERIOD = ("ingest", "serve", "serve", "serve")
NEW_ID_BASE = 1_000_000_000


def shingles(text: str, k: int = 3) -> set[str]:
    """Word k-gram set, split on single spaces (``dedup.shingle_docs``)."""
    w = text.split(" ")
    return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)} if len(w) >= k else set()


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


class CorpusMix:
    uses_artifacts = True

    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark, self.tr, self.seed = spark, tracer, seed
        self.sf_dir = os.path.join(work, "sf")
        self.curated = os.path.join(work, "curated")
        self.qdir = os.path.join(work, "queries")
        self.out = os.path.join(work, "served")
        self.ckpt = os.path.join(work, "checkpoint")
        os.makedirs(self.qdir)
        self.sfgen = load_script("tools/sfgen.py")
        self.rng = np.random.default_rng([seed, 7])
        self.pending: list[str] = []
        self.periods = 0
        self.next_doc = NEW_ID_BASE
        self.next_query = 0
        self.batch_text: dict[int, str] = {}      # arriving doc id -> text
        self.query_op: dict[int, int] = {}        # query id -> serve op index
        self.served_batches = 0
        self.ops_seen = 0

    # ------------------------------------------------------------------
    # set-up
    # ------------------------------------------------------------------
    def prepare(self) -> None:
        with contextlib.redirect_stdout(sys.stderr):
            self.sfgen.generate(self.sf_dir, SCALE, self.seed, tables=["documents"])
        docs = pq.read_table(os.path.join(self.sf_dir, "documents.parquet"),
                             columns=["doc_id", "text"]).to_pandas()
        self.corpus_text = dict(zip(docs.doc_id, docs.text))
        self.corpus_ids = docs.doc_id.to_numpy()
        self.vocab = np.array(sorted({w for t in docs.text for w in t.split(" ")}))

    def warm(self) -> None:
        from aws_imdb_data_pipeline_spark.extensions.tokenindex import token_stats
        from aws_imdb_data_pipeline_spark.plans.extensions import ensure_band_index

        with self.tr.span("lifecycle.build_token_stats"):
            token_stats(self.spark, self.sf_dir)
        with self.tr.span("lifecycle.build_band_index"):
            self.index = ensure_band_index(self.spark, self.sf_dir)
        _kind, fn = self._op("ingest")  # JIT warm-up; serve shares its scans
        fn()

    # ------------------------------------------------------------------
    # ops
    # ------------------------------------------------------------------
    def next_op(self):
        if not self.pending:
            self.pending = list(PERIOD)
            random.Random(self.seed * 1000 + self.periods).shuffle(self.pending)
            self.periods += 1
        return self._op(self.pending.pop(0))

    def at_boundary(self) -> bool:
        return not self.pending

    def _op(self, kind: str):
        if kind == "ingest":
            batch = self._arrivals()
            return kind, lambda: self._ingest(batch)
        queries = self._queries()
        return kind, lambda: self._serve(queries)

    def _arrivals(self) -> pd.DataFrame:
        """Arriving docs: fresh text from the corpus vocabulary, plus
        planted near-dups (one word replaced) of corpus docs and of
        other arriving docs."""
        rng, n = self.rng, INGEST_DOCS
        ids = np.arange(self.next_doc, self.next_doc + n)
        self.next_doc += n
        texts = [" ".join(rng.choice(self.vocab, rng.integers(30, 90))) for _ in range(n)]
        kind = rng.random(n)
        for i in range(n):
            if kind[i] < NEAR_CORPUS:
                src = self.corpus_text[int(rng.choice(self.corpus_ids))]
            elif kind[i] < NEAR_CORPUS + NEAR_BATCH and i > 0:
                src = texts[int(rng.integers(0, i))]
            else:
                continue
            w = src.split(" ")
            w[int(rng.integers(0, len(w)))] = str(rng.choice(self.vocab))
            texts[i] = " ".join(w)
        self.batch_text.update(zip(ids.tolist(), texts))
        return pd.DataFrame({"doc_id": ids, "text": texts})

    def _queries(self) -> pd.DataFrame:
        rng, n = self.rng, SERVE_QUERIES
        ids = np.arange(self.next_query, self.next_query + n)
        self.next_query += n
        texts = [" ".join(rng.choice(self.vocab, rng.integers(2, 6), replace=False))
                 for _ in range(n)]
        return pd.DataFrame({"query_id": ids, "qtext": texts})

    def _ingest(self, batch: pd.DataFrame) -> None:
        from pyspark.sql import functions as F

        from aws_imdb_data_pipeline_spark.extensions.dedup import (
            incremental_near_dup_pairs, minhash_dedup_pairs, release_pinned_shingles,
        )
        from aws_imdb_data_pipeline_spark.extensions.textstats import quality_score
        from aws_imdb_data_pipeline_spark.sources.tables import load_table

        spark, span = self.spark, self.tr.span
        new = spark.createDataFrame(batch)
        corpus = load_table(spark, self.sf_dir, "documents").select("doc_id", "text")
        with span("extensions.incremental_near_dup_pairs"):
            vs_corpus = incremental_near_dup_pairs(
                new, corpus, self.index, "doc_id", "text", threshold=THRESHOLD
            ).collect()
        with span("extensions.minhash_dedup_pairs"):
            in_batch = minhash_dedup_pairs(
                new, "doc_id", "text", threshold=THRESHOLD).collect()
            release_pinned_shingles()
        drop = {r["new_id"] for r in vs_corpus} | {max(r["id_a"], r["id_b"]) for r in in_batch}
        with span("extensions.quality_score"):
            kept = quality_score(new.filter(~F.col("doc_id").isin(list(drop))))
        with span("sources.append_curated"):
            kept.filter(F.col("quality") >= 0.5).select("doc_id", "text").write.mode(
                "append").parquet(self.curated)
        self.last = {
            "pairs": [(r["new_id"], r["corpus_id"]) for r in vs_corpus]
            + [(r["id_a"], r["id_b"]) for r in in_batch],
            "corpus_pairs": len(vs_corpus), "new": new,
        }

    def _serve(self, queries: pd.DataFrame) -> None:
        from aws_imdb_data_pipeline_spark.streaming.bm25serve import stream_bm25_topk

        spark = self.spark
        name = os.path.join(self.qdir, f"q{self.served_batches:06d}.json")
        queries.to_json(name + ".tmp", orient="records", lines=True)
        os.replace(name + ".tmp", name)
        self.served_batches += 1
        stream = spark.readStream.schema("query_id long, qtext string").option(
            "maxFilesPerTrigger", 1).json(self.qdir)
        with self.tr.span("streaming.stream_bm25_topk"):
            q = stream_bm25_topk(stream, self.sf_dir, self.out, self.ckpt,
                                 k=TOPK, trigger_available_now=True)
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        self.last = {"progress": [p for p in q.recentProgress if p["numInputRows"] > 0],
                     "queries": queries}

    # ------------------------------------------------------------------
    # bookkeeping and checks (untimed)
    # ------------------------------------------------------------------
    def after_op(self, op: dict) -> None:
        i = self.ops_seen
        self.ops_seen += 1
        if not op["ok"]:
            return
        last = self.last
        if op["kind"] == "serve":
            for qid in last["queries"].query_id.tolist():
                self.query_op[qid] = i
            op["progress"] = [p["durationMs"] for p in last["progress"]]
            if self.tr.enabled:
                op["bm25_candidate_rows"] = self._candidate_rows(last["queries"])
            return
        op["docs"] = INGEST_DOCS
        for a, b in last["pairs"]:
            j = jaccard(self._text(a), self._text(b))
            if j < THRESHOLD:
                op["ok"] = False
                op["problems"].append(f"pair ({a}, {b}) has Jaccard {j:.3f} < {THRESHOLD}")
        if self.tr.enabled:
            op["candidate_pairs"] = self._candidate_pairs(last["new"])
            op["corpus_pairs"] = last["corpus_pairs"]

    def _text(self, doc_id: int) -> str:
        return self.batch_text.get(doc_id) or self.corpus_text[doc_id]

    def _candidate_pairs(self, new) -> int:
        """LSH candidates of the batch against the band index, counted
        with the same banding kernels the dedup uses (traced runs only)."""
        from pyspark.sql import functions as F

        from aws_imdb_data_pipeline_spark.extensions.dedup import (
            band_buckets, minhash_signatures, read_band_index_meta, shingle_docs,
        )

        meta = read_band_index_meta(self.index)
        sh = shingle_docs(new, "doc_id", "text", k=meta["k"])
        sig = minhash_signatures(sh, "doc_id", "__shingles", meta["num_hashes"])
        banded = band_buckets(sig, "doc_id", "__sig", meta["bands"], meta["rows_per_band"])
        index = self.spark.read.parquet(os.path.join(self.index, "bands"))
        return (index.join(F.broadcast(banded.select(
            F.col("__id").alias("new_id"), "band", "bucket")), ["band", "bucket"])
            .filter(F.col("id") != F.col("new_id"))
            .select("new_id", "id").distinct().count())

    def _candidate_rows(self, queries: pd.DataFrame) -> int:
        from pyspark.sql import functions as F

        from aws_imdb_data_pipeline_spark.extensions.retrieval import (
            bm25_candidate_rows, bm25_qterms,
        )
        from aws_imdb_data_pipeline_spark.extensions.tokenindex import token_stats

        dfreq = token_stats(self.spark, self.sf_dir).dfl().select(
            F.col("lword").alias("__t"), F.col("df").alias("__df"))
        return bm25_candidate_rows(bm25_qterms(self.spark.createDataFrame(queries)), dfreq)

    def check(self, ops: list[dict]) -> None:
        """Serve rows of the timed batches against one batch BM25 over
        the same queries and the same token-stats artifact."""
        from pyspark.sql import functions as F

        from aws_imdb_data_pipeline_spark.extensions.retrieval import bm25_topk
        from aws_imdb_data_pipeline_spark.extensions.tokenindex import token_stats

        if not self.query_op:
            return
        spark = self.spark
        served = spark.read.parquet(self.out).filter(
            F.col("query_id").isin(list(self.query_op))).toPandas()
        queries = spark.read.schema("query_id long, qtext string").json(self.qdir).filter(
            F.col("query_id").isin(list(self.query_op)))
        ts = token_stats(spark, self.sf_dir)
        tf = ts.tfl().select("doc_id", F.col("lword").alias("__t"),
                             F.col("tf").alias("__tf"), F.col("dl").alias("__dl"))
        dfreq = ts.dfl().select(F.col("lword").alias("__t"), F.col("df").alias("__df"))
        want = bm25_topk(queries, queries, id_col="doc_id", k=TOPK,
                         corpus=(tf, dfreq, (ts.n_docs, ts.avgdl))).toPandas()
        key = ["query_id", "rank", "doc_id"]
        got = served.drop(columns="batch_id").sort_values(key).reset_index(drop=True)
        want = want.sort_values(key).reset_index(drop=True)
        by_q_got = {q: g for q, g in got.groupby("query_id")}
        by_q_want = {q: g for q, g in want.groupby("query_id")}
        for qid, i in self.query_op.items():
            g, w = by_q_got.get(qid), by_q_want.get(qid)
            same = (g is None and w is None) or (
                g is not None and w is not None and len(g) == len(w)
                and (g[key].to_numpy() == w[key].to_numpy()).all()
                and np.allclose(g.score.to_numpy(), w.score.to_numpy(), rtol=0, atol=1e-9))
            if not same and ops[i]["ok"]:
                ops[i]["ok"] = False
                ops[i]["problems"].append(f"query {qid}: served top-{TOPK} differs from batch bm25_topk")

    # ------------------------------------------------------------------
    # metrics
    # ------------------------------------------------------------------
    def report(self, ops, p50, tail):
        ingest_s = sum(op["s"] for op in ops if op["kind"] == "ingest")
        docs = sum(op.get("docs", 0) for op in ops)
        return [
            ("ingest_batch_p50_s", p50.get("ingest", float("nan")), "s"),
            ("docs_per_s", docs / ingest_s if ingest_s else float("nan"), "docs/s"),
            ("serve_batch_p50_s", p50.get("serve", float("nan")), "s"),
            ("serve_batch_p90_s", tail.get("serve", float("nan")), "s"),
        ]

    def layer_metrics(self, sp, ops) -> dict:
        ok = [op for op in ops if op["ok"]]
        ing = [op for op in ok if op["kind"] == "ingest"]
        srv = [op for op in ok if op["kind"] == "serve"]
        cand = sum(op["candidate_pairs"] for op in ing)
        verified = sum(op["corpus_pairs"] for op in ing)

        def dedup(r):
            ss = sp.under(r, "extensions.incremental_near_dup_pairs") + \
                sp.under(r, "extensions.minhash_dedup_pairs")
            return sum(s["end"] - s["start"] for s in ss) if ss else None

        def progress(key):
            vals = [p.get(key, 0) / 1000.0 for op in srv for p in op["progress"]]
            return (median(vals) if vals else 0.0, "s")

        return {
            "extensions.dedup_s": (sp.per_op(dedup, ("ingest",)), "s"),
            "extensions.candidate_pairs": (median([op["candidate_pairs"] for op in ing] or [0]), "count"),
            "extensions.lsh_precision": (verified / cand if cand else 0.0, "ratio"),
            "extensions.bm25_candidate_rows": (
                median([op["bm25_candidate_rows"] for op in srv] or [0]), "count"),
            "streaming.trigger_s": progress("triggerExecution"),
            "streaming.add_batch_s": progress("addBatch"),
            "streaming.wal_commit_s": progress("walCommit"),
            "streaming.planning_s": progress("queryPlanning"),
        }
