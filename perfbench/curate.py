"""curate_batch: repeated passes of the corpus-curation queries.

Each operation is one registered query: its ``fn`` (plan build) plus a
``noop`` save (execution). The seed sets the query order of every
pass. These are shuffle-heavy, CPU-bound higher-order-function kernels
in ``operators/``; per-request overhead is a small share and nothing
is written.

Checks: the warm-up pass collects every query and compares it with
the DuckDB oracle where one is registered; it also records a row
count and an order-insensitive hash that Spark computes in the same
job. Every measured query must reproduce that count and hash.
"""

from __future__ import annotations

import json
import time

import numpy as np

from perfbench import fixtures, oracle
from perfbench.trace import median

QUERIES = (
    "text_quality_stats",
    "dedup_minhash_lsh",
    "simhash_near_pairs",
    "duplicate_span_stats",
    "dedup_incremental_delta",
    "chunk_dedup_reassemble",
    "bm25_search_scores",
    "ann_cosine_topk",
    "ann_lsh_multiprobe_topk",
    "dsir_importance_weights",
    "multimodal_image_tile_fingerprints",
)
N_DOCS = 500
N_VECS = 500


class CurateBatch:
    name = "curate_batch"
    tables = ("documents", "embeddings")

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = np.random.default_rng([ctx.seed, 21])
        self.ref: dict[str, tuple[int, int]] = {}
        self.passes: list[float] = []

    def make_inputs(self) -> None:
        from hridaya_steam_market_tracker_spark.queries import load_all

        self.registry = load_all()
        sql = {q: self.registry[q].oracle for q in QUERIES if self.registry[q].oracle}

        def build(data_dir: str) -> dict:
            rng = np.random.default_rng(fixtures.FIXTURE_SEED)
            fixtures.write_documents(data_dir, rng, N_DOCS)
            fixtures.write_embeddings(data_dir, rng, N_VECS)
            con = oracle.connect(data_dir, self.tables)
            out = {q: oracle.canon_frame(con.execute(s).df()) for q, s in sql.items()}
            con.close()
            return out

        self.ctx.data_dir, self.oracle = fixtures.cached(
            self.ctx.cache_dir, "corpus",
            [str(N_DOCS), str(N_VECS), json.dumps(sql, sort_keys=True)], build,
        )

    def set_up(self, spark) -> None:
        from hridaya_steam_market_tracker_spark.tables import table

        for t in self.tables:
            table(spark, self.ctx.data_dir, t).count()

    def _query(self, spark, rec, q: str, *, warm: bool = False) -> bool:
        """One timed query, then its check (outside the timing)."""
        rows = obs = None
        with rec.op(q, warm=warm) as op:
            with rec.span("queries.fn"):
                df, obs = oracle.observed(self.registry[q].fn(spark, self.ctx.data_dir), q)
            with rec.span("action"):
                if warm:
                    rows = df.collect()
                else:
                    df.write.format("noop").mode("overwrite").save()
        if not op.ok:
            return False
        got = (obs.get["n"], obs.get["h"])
        if warm:  # the first pass: oracle comparison, and the reference
            if q in self.oracle and not oracle.same(oracle.canon_rows(df.columns, rows), self.oracle[q]):
                op.ok = False
                return False
            self.ref[q] = got
        op.ok = got == self.ref.get(q)
        return op.ok

    def warm_up(self, spark, rec) -> None:
        for q in QUERIES:
            self._query(spark, rec, q, warm=True)

    def run(self, spark, rec, seconds: float, min_passes: int | None = None) -> None:
        """Whole passes; a pass starts only before the deadline (a
        traced run makes at least two, so both halves are measured,
        unless ``min_passes`` says otherwise)."""
        if min_passes is None:
            min_passes = 2 if rec.trace else 1
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline or len(self.passes) < min_passes:
            first = len(rec.ops)
            for q in self.rng.permutation(QUERIES):
                self._query(spark, rec, str(q))
            self.passes.append(sum(o.ms for o in rec.ops[first:]) / 1e3)

    def finish(self, spark, rec) -> None:
        pass

    def latencies_ms(self, rec) -> list[float]:
        """The unit of work is a whole pass."""
        return [p * 1e3 for p in self.passes]

    def summary(self, rec) -> dict:
        return {"curate_pass_s": (median(self.passes), "s")}

    def layer_metrics(self, rec) -> dict:
        out = {}
        for q in QUERIES:
            for span, key in (("queries.fn", "plan_ms"), ("action", "exec_ms")):
                vals = [
                    (s[5] - s[4]) * 1e3 for s in rec.spans
                    if s[3] == span and rec.ops[s[2]].kind == q
                ]
                out[f"curate.{q}.{key}"] = median(vals)
        return out
