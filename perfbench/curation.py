"""``curation`` workload: LLM-corpus curation over arriving documents.

Set-up splits the sf0.1 ``documents`` table (5000 documents), in
seed-chosen arrival order, into epochs of ``EPOCH_DOCS`` documents; the
first epoch is folded untimed as the warm-up. One operation is one
``append_dedup_batch`` epoch into the live near-dup index. Right after
operation ``MIN_OPS - 1``, at a fixed index size, ``read_dedup_survivors``
and ``read_dedup_clusters`` each run ``READS`` times. Traced runs then run
the registered ``corpus_pipeline_v6`` query once over the whole corpus.
"""

from __future__ import annotations

import time

import duckdb
import numpy as np

import gen
from common import median, same_rows

EPOCH_DOCS = 250
MIN_OPS = 3
READS = 2


class Curation:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.index = ctx.path("dedup_index")
        self.failures = 0
        self.attempted = 0
        self.ops: list[dict] = []  # measured regions (wall_s, cpu_s, adj_s)
        self.surv: list[dict] = []
        self.clus: list[dict] = []
        self.batch_s = 0.0
        self.committed: list[int] = []
        self.read_result = None

    def setup(self):
        with self.tr.span("bench.fixture"):
            self.docs = gen.table("documents")
            n = len(self.docs)
            self.n_epochs = n // EPOCH_DOCS  # 20; epoch 0 is the warm-up
            order = np.random.default_rng([self.ctx.seed, 20]).permutation(n)
            arrival = np.empty(n, dtype=np.int64)
            arrival[order] = np.arange(n) // EPOCH_DOCS
            self.docs["arrival"] = arrival
            path = self.ctx.path("arrivals.parquet")
            self.docs[["doc_id", "text", "arrival"]].to_parquet(path, index=False)
            self.arrivals = self.spark.read.parquet(path)
        with self.tr.span("session.warmup"):
            self._fold(0)
            self._read()
        self.surv, self.clus = [], []

    def _fold(self, e: int) -> dict:
        from demo_bigdata_spark.operators import dedup as D

        batch = self.arrivals.filter(f"arrival = {e}").select("doc_id", "text")
        with self.ctx.timed("op") as op, self.tr.span("operators.dedup.append_dedup_batch") as sp:
            D.append_dedup_batch(self.spark, batch, self.index, e)
        self.committed.append(e)
        if self.ctx.trace:
            with self.tr.span("bench.check"):
                sp["verified_pairs"] = (
                    self.spark.read.parquet(self.index + "/pairs")
                    .filter(f"epoch_id = {e}")
                    .count()
                )
        return op

    def step(self, i: int):
        self.ops.append(self._fold(i + 1))
        self.attempted += 1
        if i == MIN_OPS - 1:
            self.read_result = self.reads()

    def _collect(self, df) -> tuple[list, list]:
        return df.columns, [tuple(r) for r in df.collect()]

    def reads(self):
        """``READS`` survivor and cluster reads on the index as it stands
        (the benchmark calls this at a fixed index size). Returns the last
        results and the epochs they cover."""
        for _ in range(READS):
            surv, clus = self._read()
            self.attempted += 2
        return surv, clus, list(self.committed)

    def _read(self):
        from demo_bigdata_spark.operators import dedup as D

        with self.ctx.timed("read") as read, self.tr.span("operators.dedup.read_dedup_survivors"):
            surv = self._collect(D.read_dedup_survivors(self.spark, self.index))
        with self.ctx.timed("read_clusters") as read_c, self.tr.span("operators.dedup.read_dedup_clusters"):
            clus = self._collect(D.read_dedup_clusters(self.spark, self.index))
        self.surv.append(read)
        self.clus.append(read_c)
        return surv, clus

    def batch(self):
        from demo_bigdata_spark.suites import all_queries

        t0 = time.perf_counter()
        with self.tr.span("suites.corpus_pipeline_v6"):
            out = self._collect(all_queries()["corpus_pipeline_v6"](self.spark, gen.data_dir()))
        self.batch_s = time.perf_counter() - t0
        self.attempted += 1
        return out

    # --- output checks (outside the timed regions) ----------------------------

    def _oracle(self, sql: str, docs) -> tuple[list, list]:
        con = duckdb.connect()
        try:
            con.register("documents", docs.drop(columns="arrival"))
            res = con.execute(sql)
            return [d[0] for d in res.description], res.fetchall()
        finally:
            con.close()

    def _folded(self, epochs):
        return self.docs[self.docs["arrival"].isin(epochs)]

    def check(self, v6) -> list[bool]:
        """Survivors and clusters read at the fixed index size equal their
        registered DuckDB oracle twins over the documents folded by then;
        if more epochs were folded later, one more survivor read checks
        the final index. Traced runs also check survivors against the
        batch ``near_dup_survivors`` and ``corpus_pipeline_v6`` against its
        oracle twin over the whole corpus."""
        from demo_bigdata_spark.operators import dedup as D
        from demo_bigdata_spark.suites import all_oracles

        oracles = all_oracles()
        surv, clus, epochs = self.read_result
        with self.tr.span("bench.check"):
            ok = [
                same_rows(*surv, *self._oracle(oracles["dedup_survivors"], self._folded(epochs))),
                same_rows(*clus, *self._oracle(oracles["dedup_clusters_incremental"], self._folded(epochs))),
            ]
            if self.committed != epochs:
                final = self._collect(D.read_dedup_survivors(self.spark, self.index))
                ok.append(
                    same_rows(*final, *self._oracle(oracles["dedup_survivors"], self._folded(self.committed)))
                )
            if v6 is not None:
                ids = ",".join(map(str, epochs))
                batch = D.near_dup_survivors(
                    self.arrivals.filter(f"arrival IN ({ids})").select("doc_id", "text")
                )
                ok.append(same_rows(*surv, *self._collect(batch)))
                ok.append(same_rows(*v6, *self._oracle(oracles["corpus_pipeline_v6"], self.docs)))
        return ok


def run(ctx) -> dict:
    w = Curation(ctx)
    w.setup()
    ctx.end_setup()
    ctx.window = (time.time(), None)
    ctx.timed_loop(w.step, MIN_OPS, w.n_epochs - 1)
    # the batch pipeline runs in traced runs only (see README: time budget)
    v6 = w.batch() if ctx.trace else None
    ctx.window = (ctx.window[0], time.time())
    checks = w.check(v6)
    if not all(checks):
        w.failures = w.attempted
    op_s = [r["wall_s"] for r in w.ops]
    fixed = w.ops[:MIN_OPS]
    return {
        "attempted": w.attempted,
        "failed": w.failures,
        "correct": w.failures == 0,
        # the first MIN_OPS epochs and the reads right after them: the time
        # box changes how many more epochs run, not what these measure
        "e2e": {
            "op_cpu_s": median(r["cpu_s"] for r in fixed),
            "read_cpu_s": median(r["cpu_s"] for r in w.surv),
        },
        "wall": {
            "op_s": median(r["wall_s"] for r in fixed),
            "op_adj_s": median(r["adj_s"] for r in fixed),
            "read_s": median(r["wall_s"] for r in w.surv),
        },
        "layers": {},
        "detail": {
            "op_s": op_s,
            "op_cpu_s": [r["cpu_s"] for r in w.ops],
            "surv_s": [r["wall_s"] for r in w.surv],
            "surv_cpu_s": [r["cpu_s"] for r in w.surv],
            "clus_s": [r["wall_s"] for r in w.clus],
            "docs_per_s": len(op_s) * EPOCH_DOCS / sum(op_s),
            "batch_s": w.batch_s,
            "epochs": w.committed,
            "checks": checks,
            "inputs": gen.digest(w.docs),
        },
    }
