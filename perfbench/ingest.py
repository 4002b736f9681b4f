"""market_ingest: the write path, closed loop, one client.

Micro-batches of seeded wire payloads, one stream per batch,
round-robin over the four streams. A batch is built with
``createDataFrame(rows, WIRE_*)``, normalized by its
``sources.wire.normalize_*`` function and stored: ``pricehistory``
through ``streaming.ingest.idempotent_append`` (its anti-join re-reads
a sink that grows all run), the snapshot streams through
``storage.layout.write_partitioned``, with ``compact_partition`` on the
newest partition every third batch of a stream, staggered so that each
round compacts exactly one of the three snapshot streams. The batch's
new sink files are then read back as the change feed and routed by
``streaming.push.route_batch`` against seeded subscriptions.

A batch's freshness is its wall time from the hand-off to
``createDataFrame`` until its rows are durable, its frames emitted and
any compaction it triggered is done.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from perfbench.trace import median
from perfbench.wire import STREAMS, WireGen, wire_schema

N_ITEMS = 300
BATCH_ITEMS = 60
HISTORY_POINTS = 12
COMPACT_EVERY = 3
WARM_ROUNDS = 1
# (time column, routed value column) per stream
ROUTE_COLS = {
    "priceoverview": ("timestamp", "lowest_price"),
    "histogram": ("timestamp", "highest_buy_order"),
    "activity": ("timestamp", "activity_count"),
    "pricehistory": ("time", "price"),
}
SUBS_SCHEMA = "market_hash_name string, stream string, subscriber_id string"


def _files(path: str) -> set[str]:
    out = set()
    for d, _, names in os.walk(path):
        out.update(os.path.join(d, n) for n in names if n.endswith(".parquet"))
    return out


def _count(df, name: str):
    obs = Observation(f"{name}-{time.perf_counter_ns()}")
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


class Sinks:
    """One sink directory per stream, plus the generator that feeds
    them. The price-history sink starts with every item's history."""

    def __init__(self, spark, root: str, seed: list[int]):
        from hridaya_steam_market_tracker_spark.sources.wire import normalize_pricehistory
        from hridaya_steam_market_tracker_spark.streaming.ingest import idempotent_append

        os.makedirs(root)
        self.path = {s: os.path.join(root, s) for s in STREAMS}
        self.gen = WireGen(seed, N_ITEMS, BATCH_ITEMS)
        self.batches = dict.fromkeys(STREAMS, 0)
        self.last_history_batch = None
        raw = spark.createDataFrame(
            self.gen.initial_history(HISTORY_POINTS), wire_schema("pricehistory")
        )
        idempotent_append(normalize_pricehistory(raw), self.path["pricehistory"])


class MarketIngest:
    name = "market_ingest"
    tables = ()

    def __init__(self, ctx):
        self.ctx = ctx
        self.sinks: Sinks | None = None
        self.layer: dict[str, list[float]] = {}

    def make_inputs(self) -> None:
        from hridaya_steam_market_tracker_spark.sources import wire as sw
        from hridaya_steam_market_tracker_spark.storage import layout
        from hridaya_steam_market_tracker_spark.streaming import ingest, push

        self.normalize = {s: getattr(sw, f"normalize_{s}") for s in STREAMS}
        self.layout, self.ingest, self.push = layout, ingest, push

    def set_up(self, spark) -> None:
        """Subscriptions and sinks ready; the sinks are created and
        seeded by the first set-up and read by every set-up."""
        if self.sinks is None:
            self.sinks = Sinks(spark, os.path.join(self.ctx.work_dir, "sinks"), [self.ctx.seed, 10])
        self.subs = spark.createDataFrame(self.sinks.gen.subscription_rows(), SUBS_SCHEMA)
        spark.read.parquet(self.sinks.path["pricehistory"]).count()

    def _note(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(value)

    def _batch(self, spark, rec, sinks: Sinks, stream: str, op) -> None:
        gen = sinks.gen
        sent_before = gen.n_history()
        payload, changed = gen.batch(stream)
        sink = sinks.path[stream]
        before = _files(sink)
        with rec.span("createDataFrame"):
            raw = spark.createDataFrame(payload, wire_schema(stream))
        with rec.span("sources.wire.normalize"):
            norm = self.normalize[stream](raw)
        if op.traced:
            norm, norm_obs = _count(norm, "normalized")
        if stream == "pricehistory":
            with rec.span("streaming.ingest.idempotent_append"):
                self.ingest.idempotent_append(norm, sink)
            sinks.last_history_batch = payload
            op.rows = gen.n_history() - sent_before
        else:
            with rec.span("storage.layout.write_partitioned"):
                self.layout.write_partitioned(norm, sink, time_col="timestamp")
            op.rows = len(changed)
        new = sorted(_files(sink) - before)
        tcol, vcol = ROUTE_COLS[stream]
        frames: list = []
        with rec.span("streaming.push.route_batch"):
            delta = spark.read.schema(norm.schema).parquet(*new)
            if op.traced:
                delta, delta_obs = _count(delta, "appended")
            shaped = delta.select(
                "market_hash_name",
                F.lit(stream).alias("stream"),
                F.col(tcol).alias("time"),
                F.col(vcol).cast("double").alias("value"),
            )
            n_frames = self.push.route_batch(shaped, self.subs, frames.extend)
        sinks.batches[stream] += 1
        if stream != "pricehistory" and (sinks.batches[stream] + STREAMS.index(stream)) % COMPACT_EVERY == 0:
            with rec.span("storage.layout.compact_partition"):
                part = self.layout.list_partitions(sink)[-1]
                self.layout.compact_partition(spark, sink, part, time_col="timestamp")
        op.ok = n_frames == len(frames) == gen.frames_for(stream, changed)
        if op.traced:
            self._note(f"{stream}.rows_in", len(payload))
            self._note(f"{stream}.rows_out", norm_obs.get["n"])
            if stream == "pricehistory":
                self._note("offered", norm_obs.get["n"])
                self._note("appended", delta_obs.get["n"])
            self._note("frames", n_frames)

    def warm_up(self, spark, rec) -> None:
        """WARM_ROUNDS unrecorded batches per stream, into the same sinks."""
        for stream in STREAMS * WARM_ROUNDS:
            with rec.op(stream, warm=True) as op:
                self._batch(spark, rec, self.sinks, stream, op)

    def run(self, spark, rec, seconds: float) -> None:
        """Whole rounds of one batch per stream, in stream order; a
        round starts only before the deadline, so every stream gets
        the same number of batches (a traced run makes at least two)."""
        deadline = time.perf_counter() + seconds
        rounds = 0
        while time.perf_counter() < deadline or (rec.trace and rounds < 2):
            rounds += 1
            for stream in STREAMS:
                with rec.op(stream) as op:
                    self._batch(spark, rec, self.sinks, stream, op)

    # ------------------------------------------------------------ checks
    def finish(self, spark, rec) -> None:
        """Sink contents against what the generator sent; a mismatch
        fails every batch of that stream."""
        sinks, gen = self.sinks, self.sinks.gen
        bad: set[str] = set()
        hist = spark.read.parquet(sinks.path["pricehistory"])
        got = sorted(
            tuple(r)
            for r in hist.select("market_hash_name", "currency", "time", "price", "volume").collect()
        )
        self.stored_rows = len(got)
        if got != gen.expected_history():
            bad.add("pricehistory")
        if sinks.last_history_batch is not None:  # replaying a batch appends nothing
            raw = spark.createDataFrame(sinks.last_history_batch, wire_schema("pricehistory"))
            self.ingest.idempotent_append(self.normalize["pricehistory"](raw), sinks.path["pricehistory"])
            if spark.read.parquet(sinks.path["pricehistory"]).count() != len(got):
                bad.add("pricehistory")
        for stream in STREAMS[:3]:
            if sinks.batches[stream] and self._snapshot_rows(spark, stream) != sorted(gen.snapshots[stream]):
                bad.add(stream)
        self.sink_files = sum(len(_files(p)) for p in sinks.path.values())
        for op in rec.ops:
            if op.kind in bad:
                op.ok = False

    def _snapshot_rows(self, spark, stream: str) -> list[tuple]:
        df = spark.read.parquet(self.sinks.path[stream])
        if stream == "priceoverview":
            cols = ["market_hash_name", "currency", "lowest_price", "median_price", "volume"]
            return sorted(tuple(r) for r in df.select(*cols).collect())
        if stream == "histogram":
            rows = df.select(
                "market_hash_name", "currency", "highest_buy_order", "lowest_sell_order",
                "buy_order_count", "sell_order_count", "buy_order_graph", "sell_order_graph",
            ).collect()
            return sorted(
                (*r[:6], tuple((p["price"], p["cum_qty"]) for p in list(r[6]) + list(r[7])))
                for r in rows
            )
        rows = df.select(
            "market_hash_name", "currency", "activity_count", "steam_timestamp", "parsed_activities"
        ).collect()
        return sorted(
            (*r[:4], tuple((float(e["price"]), e["currency"], e["action"]) for e in r[4]))
            for r in rows
        )

    # ------------------------------------------------------------ metrics
    def summary(self, rec) -> dict:
        ops = [o for o in rec.ops if not o.traced]
        secs = sum(o.ms for o in ops) / 1e3
        return {"ingest_rows_per_s": (sum(o.rows for o in ops) / secs, "1/s")}

    def layer_metrics(self, rec) -> dict:
        out = {}
        n_batches = max(1, sum(o.traced for o in rec.ops))
        for stream in STREAMS:
            for k in ("rows_in", "rows_out"):
                out[f"sources.wire.{stream}.{k}"] = median(self.layer.get(f"{stream}.{k}", []))
            norm = [
                (s[5] - s[4]) * 1e3 for s in rec.spans
                if s[3] == "sources.wire.normalize" and rec.ops[s[2]].kind == stream
            ]
            out[f"sources.wire.{stream}.normalize_ms"] = median(norm)
        offered, appended = sum(self.layer.get("offered", [])), sum(self.layer.get("appended", []))
        out["streaming.ingest.append_ms"] = median(rec.span_ms("streaming.ingest.idempotent_append"))
        out["streaming.ingest.offered_rows"] = offered
        out["streaming.ingest.appended_rows"] = appended
        out["streaming.ingest.kept_frac"] = appended / offered if offered else 0.0
        out["streaming.ingest.stored_rows"] = self.stored_rows
        out["storage.layout.write_ms"] = median(rec.span_ms("storage.layout.write_partitioned"))
        out["storage.layout.compact_ms"] = median(rec.span_ms("storage.layout.compact_partition"))
        out["storage.layout.sink_files"] = self.sink_files
        out["streaming.push.route_ms"] = median(rec.span_ms("streaming.push.route_batch"))
        out["streaming.push.frames"] = sum(self.layer.get("frames", [])) / n_batches
        return out
