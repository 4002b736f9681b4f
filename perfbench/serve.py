"""market_serve: the reference's read path, closed loop, one client.

70% of requests read one item: latest-1, recent-200, 30-day range,
or the daily rollup of that range, each a registered query's ``fn``
plus a key filter, collected. Keys are Zipf-skewed over the 1,500
item keys. 30% are all-key dashboards written to the ``noop`` sink. Every response is checked against the DuckDB oracle:
item responses row by row against the key's slice of the oracle
result, dashboards on row count plus an order-insensitive hash.
"""

from __future__ import annotations

import dataclasses
import itertools
import json
import time

import numpy as np
from pyspark.sql import functions as F

from perfbench import fixtures, oracle
from perfbench.curate import CurateBatch
from perfbench.trace import Recorder, median

ITEM_KINDS = {
    "item_latest": "e1_latest_per_key",
    "item_recent": "e2_recent_n_per_key",
    "item_range": "b2_range_filter_month",
    "item_rollup": "b2_range_filter_month",
}
DASH_KINDS = {
    "dash_latest": "e1_latest_per_key",
    "dash_volatility": "d6_volatility_per_key",
    "dash_rollup": "d5_daily_rollup",
    "dash_window": "w5_sliding_window_6h_1h",
}
KINDS = tuple(ITEM_KINDS) + tuple(DASH_KINDS)
# per block of BLOCK requests (70% per-item, 30% dashboards)
BLOCK = 10
WARM_BLOCKS = 3
ITEMS_PER_BLOCK = 7


def _rollup(df):
    """One key's slice of the 30-day range as a daily rollup (the
    d5_daily_rollup aggregate, per key)."""
    return df.groupBy("user_id", F.date_trunc("day", "ts").alias("day")).agg(
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.count(F.lit(1)).alias("n"),
    )


def _rollup_sql(range_sql: str) -> str:
    return f"""
    SELECT user_id, date_trunc('day', ts) AS day,
           round(avg(value), 6) AS avg_value,
           round(sum(value), 4) AS sum_value,
           CAST(count(*) AS BIGINT) AS n
    FROM ({range_sql}) GROUP BY 1, 2"""


class MarketServe:
    name = "market_serve"
    tables = ("events",)

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = np.random.default_rng([ctx.seed, 1])
        # traced runs only: the curation pass, with its own recorder
        self.curate = CurateBatch(dataclasses.replace(ctx)) if ctx.trace else None
        self.curate_rec: Recorder | None = None

    def make_inputs(self) -> None:
        from hridaya_steam_market_tracker_spark.queries import load_all

        self.registry = load_all()
        sql = {k: self.registry[q].oracle for k, q in {**ITEM_KINDS, **DASH_KINDS}.items()}
        sql["item_rollup"] = _rollup_sql(sql["item_rollup"])

        def build(data_dir: str) -> dict:
            fixtures.write_events(data_dir, np.random.default_rng(fixtures.FIXTURE_SEED))
            con = oracle.connect(data_dir, self.tables)
            out: dict = {"item": {}, "dash": {}}
            for kind in ITEM_KINDS:
                res = con.execute(sql[kind]).df()
                cols = list(res.columns)
                by_key: dict[str, list] = {}
                for row in res.itertuples(index=False):
                    by_key.setdefault(str(row[cols.index("user_id")]), []).append(row)
                out["item"][kind] = {k: oracle.canon_rows(cols, rows) for k, rows in by_key.items()}
            for kind in DASH_KINDS:
                out["dash"][kind] = oracle.canon_frame(con.execute(sql[kind]).df())
            con.close()
            return out

        self.ctx.data_dir, ref = fixtures.cached(
            self.ctx.cache_dir, "events", [json.dumps(sql, sort_keys=True)], build
        )
        self.item_oracle = {
            kind: {int(k): rows for k, rows in by_key.items()} for kind, by_key in ref["item"].items()
        }
        self.dash_oracle = ref["dash"]
        # the dashboard reference (count, Spark-side hash) is taken from
        # a full oracle-checked collect during warm-up
        self.dash_ref: dict[str, tuple[int, int]] = {}
        if self.curate is not None:
            self.curate.make_inputs()

    def set_up(self, spark) -> None:
        from hridaya_steam_market_tracker_spark.tables import table

        table(spark, self.ctx.data_dir, "events").count()

    def _blocks(self, rng):
        """Blocks of ten requests, seven per-item and three dashboards,
        shuffled within the block; the kinds within each class rotate
        across blocks, so whole blocks keep every run's mix the same."""
        keys = fixtures.Zipf(rng)
        items = itertools.cycle(ITEM_KINDS)
        dashes = itertools.cycle(DASH_KINDS)
        while True:
            block = [(next(items), keys.draw()) for _ in range(ITEMS_PER_BLOCK)]
            block += [(next(dashes), None) for _ in range(BLOCK - ITEMS_PER_BLOCK)]
            yield [block[i] for i in rng.permutation(BLOCK)]

    def _item(self, spark, rec, kind, key):
        with rec.span("queries.fn"):
            df = self.registry[ITEM_KINDS[kind]].fn(spark, self.ctx.data_dir)
            df = df.filter(F.col("user_id") == key)
            if kind == "item_rollup":
                df = _rollup(df)
        with rec.span("action"):
            return df.columns, df.collect()

    def _dash(self, spark, rec, kind, verify: bool):
        with rec.span("queries.fn"):
            df = self.registry[DASH_KINDS[kind]].fn(spark, self.ctx.data_dir)
            df, obs = oracle.observed(df, kind)
        with rec.span("action"):
            if verify:
                return df.columns, df.collect(), obs
            df.write.format("noop").mode("overwrite").save()
            return None, None, obs

    def _request(self, spark, rec, kind, key, *, warm: bool = False) -> bool:
        """One timed request, then its check (outside the timing)."""
        res = None
        with rec.op(kind, warm=warm) as op:
            if key is None:
                res = self._dash(spark, rec, kind, verify=kind not in self.dash_ref)
            else:
                res = self._item(spark, rec, kind, key)
        if op.ok:
            op.ok = self._check(kind, key, res)
        return op.ok

    def _check(self, kind, key, res) -> bool:
        if key is not None:
            cols, rows = res
            return oracle.same(oracle.canon_rows(cols, rows), self.item_oracle[kind].get(key, []))
        cols, rows, obs = res
        got = (obs.get["n"], obs.get["h"])
        if rows is not None:  # first warm-up: full oracle comparison sets the reference
            if not oracle.same(oracle.canon_rows(cols, rows), self.dash_oracle[kind]):
                return False
            self.dash_ref[kind] = got
        return got == self.dash_ref.get(kind)

    def warm_up(self, spark, rec) -> None:
        """Each kind once, dashboards oracle-checked in full; then
        WARM_BLOCKS blocks of requests, for the JIT."""
        keys = fixtures.Zipf(np.random.default_rng([self.ctx.seed, 2]))
        for kind in KINDS:
            key = keys.draw() if kind in ITEM_KINDS else None
            self._request(spark, rec, kind, key, warm=True)
        blocks = self._blocks(np.random.default_rng([self.ctx.seed, 3]))
        for block in itertools.islice(blocks, WARM_BLOCKS):
            for kind, key in block:
                self._request(spark, rec, kind, key, warm=True)

    def run(self, spark, rec, seconds: float) -> None:
        """Whole blocks; a block starts only before the deadline (a
        traced run makes at least two, so both halves are measured)."""
        deadline = time.perf_counter() + seconds
        blocks = self._blocks(self.rng)
        n = 0
        while time.perf_counter() < deadline or (rec.trace and n < 2):
            n += 1
            for kind, key in next(blocks):
                self._request(spark, rec, kind, key)

    def finish(self, spark, rec) -> None:
        """Traced runs: one curation pass after a warm-up pass, traced
        by a recorder of its own; its operations count as checked
        warm-up operations of this run, not as measured requests."""
        if self.curate is None:
            return
        sub = Recorder(True)
        sub.bind(spark)
        self.curate.set_up(spark)
        self.curate.warm_up(spark, sub)
        self.curate.run(spark, sub, 0.0, min_passes=1)
        rec.warm_ops += sub.warm_ops + sub.ops
        self.curate_rec = sub

    def summary(self, rec) -> dict:
        ms = sorted(o.ms for o in rec.ops if not o.traced)
        return {"serve_rps": (len(ms) / (sum(ms) / 1e3), "1/s")}

    def layer_metrics(self, rec) -> dict:
        out = {}
        traced = [o for o in rec.ops if o.traced]
        for kind in KINDS:
            vals = [o.ms for o in traced if o.kind == kind]
            out[f"serve.{kind}_ms"] = median(vals)
        # plan/exec split by request type (item vs dashboard)
        for group in ("item", "dash"):
            plan, exe = [], []
            for sid, s in enumerate(rec.spans):
                if s[3] not in ("queries.fn", "action"):
                    continue
                if not rec.ops[s[2]].kind.startswith(group):
                    continue
                (plan if s[3] == "queries.fn" else exe).append((s[5] - s[4]) * 1e3)
            out[f"queries.{group}.plan_ms"] = median(plan)
            out[f"queries.{group}.exec_ms"] = median(exe)
        if self.curate_rec is not None:
            out.update(self.curate.layer_metrics(self.curate_rec))
        return out
