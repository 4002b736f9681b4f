"""Seeded wire payloads for the four market streams, and the values
each payload encodes.

Prices are encoded the way the market API sends them: locale strings
("1.234,56€", "$5.00", "£5.99", "0,03€"), minor-unit integers for the
histogram's best bid/ask ("6711" = 67.11), plain decimal strings in
order-book graph triples, HTML spans in activity lines, and
``[date, price, volume]`` triples in price history. Price-history
payloads re-send an overlapping tail of already-sent points and now
and then carry a malformed date, so replay dedup and the date filter
do real work.

``WireGen`` keeps what it has sent, so ``expected_*`` give the rows the
engine must store: every generated value must come back out of
``sources.wire`` unchanged (the round-trip check).
"""

from __future__ import annotations

import datetime as dt

import numpy as np
from pyspark.sql import types as T

STREAMS = ("priceoverview", "histogram", "activity", "pricehistory")
CURRENCIES = ("EUR", "USD", "GBP")
LOCALE = {"EUR": ("DE", "german"), "USD": ("US", "english"), "GBP": ("GB", "english")}
WEARS = ("Factory New", "Minimal Wear", "Field-Tested", "Well-Worn", "Battle-Scarred")
HISTORY_BASE = dt.datetime(2024, 3, 1)

IDENTITY_FIELDS = [
    T.StructField("appid", T.IntegerType()),
    T.StructField("market_hash_name", T.StringType()),
    T.StructField("item_nameid", T.LongType()),
    T.StructField("country", T.StringType()),
    T.StructField("language", T.StringType()),
]


def wire_schema(stream: str) -> T.StructType:
    from hridaya_steam_market_tracker_spark import schemas

    wire = {
        "priceoverview": schemas.WIRE_PRICEOVERVIEW,
        "histogram": schemas.WIRE_HISTOGRAM,
        "activity": schemas.WIRE_ACTIVITY,
        "pricehistory": schemas.WIRE_PRICEHISTORY,
    }[stream]
    return T.StructType(list(wire.fields) + IDENTITY_FIELDS)


def _grouped(n: int, sep: str) -> str:
    return f"{n:,}".replace(",", sep)


def locale_price(cents: int, currency: str) -> str:
    """Market price string for ``cents`` minor units."""
    major, minor = divmod(cents, 100)
    if currency == "EUR":
        return f"{_grouped(major, '.')},{minor:02d}€"
    sym = "$" if currency == "USD" else "£"
    return f"{sym}{_grouped(major, ',')}.{minor:02d}"


def activity_price(cents: int, currency: str) -> str:
    """Activity-line price (the activity parser turns every comma into
    a decimal point, so these carry no thousands separator)."""
    major, minor = divmod(cents, 100)
    if currency == "EUR":
        return f"{major},{minor:02d}€"
    return f"{'$' if currency == 'USD' else '£'}{major}.{minor:02d}"


def volume_str(n: int) -> str:
    return f"{n:,}"


def activity_line(price: str, action: str, empty_first: bool) -> str:
    spans = ""
    if empty_first:
        spans += '\t<span class="market_activity_cell market_activity_price ">\n\t\t \t</span>\n'
    spans += (
        '\t<span class="market_activity_cell market_activity_price ">\n'
        f"\t\t{price}\t</span>\n"
    )
    return (
        '<div class="market_activity_line_item ellipsis">\n'
        + spans
        + f'\t<span class="market_activity_action">{action}</span>\n</div>\n'
    )


class WireGen:
    """Payload generator for one run of the ingest workload."""

    def __init__(self, seed: list[int], n_items: int, batch_items: int):
        self.rng = np.random.default_rng(seed)
        self.n_items = n_items
        self.batch_items = batch_items
        rng = self.rng
        self.items = []
        for i in range(n_items):
            cur = CURRENCIES[int(rng.integers(0, len(CURRENCIES)))]
            country, language = LOCALE[cur]
            self.items.append(
                {
                    "appid": 730,
                    "market_hash_name": f"Item {i:04d} | {WEARS[i % len(WEARS)]}",
                    "item_nameid": 176_000_000 + i,
                    "country": country,
                    "language": language,
                    "currency": cur,
                }
            )
        self.base_cents = rng.integers(3, 250_000, n_items)
        # price history: per item, the points generated so far and the
        # number already sent (the cursor)
        self.history: list[list[tuple]] = [[] for _ in range(n_items)]
        self.sent = np.zeros(n_items, dtype=np.int64)
        # snapshot streams: expected normalized rows, per stream
        self.snapshots: dict[str, list[tuple]] = {s: [] for s in STREAMS[:3]}
        # (name, stream) -> subscriber count
        self.subs: dict[tuple[str, str], int] = {}
        for it in self.items:
            for s in STREAMS:
                if rng.random() < 0.3:
                    self.subs[(it["market_hash_name"], s)] = int(rng.integers(1, 4))

    # ------------------------------------------------------------ helpers
    def _ident(self, i: int) -> dict:
        it = self.items[i]
        return {k: it[k] for k in ("appid", "market_hash_name", "item_nameid", "country", "language")}

    def _cents(self, i: int) -> int:
        return max(3, int(self.base_cents[i] * self.rng.uniform(0.8, 1.25)))

    def subscription_rows(self) -> list[tuple[str, str, str]]:
        return [
            (name, stream, f"sock-{name[5:9]}-{stream[:4]}-{k}")
            for (name, stream), n in sorted(self.subs.items())
            for k in range(n)
        ]

    def frames_for(self, stream: str, names) -> int:
        return sum(self.subs.get((n, stream), 0) for n in set(names))

    def _pick(self) -> list[int]:
        return sorted(int(i) for i in self.rng.choice(self.n_items, self.batch_items, replace=False))

    # ------------------------------------------------------------ streams
    def batch(self, stream: str) -> tuple[list[dict], list[str]]:
        """One micro-batch of ``stream`` payloads and the names whose
        key must change (get a frame)."""
        return getattr(self, f"_{stream}")()

    def _priceoverview(self):
        rows, changed = [], []
        for i in self._pick():
            cur = self.items[i]["currency"]
            lo, med = self._cents(i), self._cents(i)
            vol = int(self.rng.integers(1, 20_000))
            ok = bool(self.rng.random() >= 0.03)
            rows.append(
                {
                    "success": ok,
                    "lowest_price": locale_price(lo, cur),
                    "median_price": locale_price(med, cur),
                    "volume": volume_str(vol),
                    **self._ident(i),
                }
            )
            if ok:
                name = self.items[i]["market_hash_name"]
                changed.append(name)
                self.snapshots["priceoverview"].append(
                    (name, cur, lo / 100, med / 100, vol)
                )
        return rows, changed

    def _book(self, cur: str, cents: int, side: int):
        table, graph, cum = [], [], 0
        for k in range(int(self.rng.integers(2, 6))):
            p = max(1, cents + side * 3 * k)
            q = int(self.rng.integers(1, 1_500))
            cum += q
            table.append({"price": locale_price(p, cur), "quantity": volume_str(q)})
            graph.append([f"{p / 100:.2f}", str(cum), f"{cum} orders at {locale_price(p, cur)}"])
        return table, graph, cum

    def _histogram(self):
        rows, changed = [], []
        for i in self._pick():
            cur = self.items[i]["currency"]
            bid = self._cents(i)
            ask = bid + int(self.rng.integers(1, 500))
            buy_t, buy_g, buy_n = self._book(cur, bid, -1)
            sell_t, sell_g, sell_n = self._book(cur, ask, +1)
            rows.append(
                {
                    "success": 1,
                    "buy_order_count": volume_str(buy_n),
                    "sell_order_count": volume_str(sell_n),
                    "buy_order_table": buy_t,
                    "sell_order_table": sell_t,
                    "buy_order_graph": buy_g,
                    "sell_order_graph": sell_g,
                    "highest_buy_order": str(bid),
                    "lowest_sell_order": str(ask),
                    "price_suffix": "€" if cur == "EUR" else "",
                    **self._ident(i),
                }
            )
            name = self.items[i]["market_hash_name"]
            changed.append(name)
            graph = tuple(
                (float(p), int(c)) for p, c, _ in buy_g + sell_g
            )
            self.snapshots["histogram"].append(
                (name, cur, bid / 100, ask / 100, buy_n, sell_n, graph)
            )
        return rows, changed

    def _activity(self):
        rows, changed = [], []
        for i in self._pick():
            cur = self.items[i]["currency"]
            ts = 1_700_000_000 + int(self.rng.integers(0, 10_000_000))
            lines, parsed = [], []
            for _ in range(int(self.rng.integers(3, 7))):
                c = max(3, int(self.rng.integers(3, 99_999)))
                action = "Purchased" if self.rng.random() < 0.6 else "Listed"
                lines.append(activity_line(activity_price(c, cur), action, self.rng.random() < 0.2))
                parsed.append((c / 100, cur, action))
            rows.append({"success": 1, "activity": lines, "timestamp": ts, **self._ident(i)})
            name = self.items[i]["market_hash_name"]
            changed.append(name)
            self.snapshots["activity"].append((name, cur, len(lines), ts, tuple(parsed)))
        return rows, changed

    def _grow_history(self, i: int, n: int) -> None:
        pts = self.history[i]
        for _ in range(n):
            h = len(pts)
            when = HISTORY_BASE + dt.timedelta(hours=h)
            price = round(self.base_cents[i] / 100 * self.rng.uniform(0.8, 1.25), 3)
            vol = int(self.rng.integers(1, 3_000))
            pts.append((when, when.strftime("%b %d %Y %H: +0"), price, vol))

    def history_payload(self, i: int, new: int, overlap: int) -> dict:
        """Points [sent - overlap, sent + new) of item i, plus perhaps
        one malformed date; marks them sent."""
        self._grow_history(i, int(self.sent[i]) + new - len(self.history[i]))
        lo = max(0, int(self.sent[i]) - overlap)
        hi = int(self.sent[i]) + new
        prices = [[d, f"{p:.3f}", volume_str(v)] for _, d, p, v in self.history[i][lo:hi]]
        if self.rng.random() < 0.1:
            prices.insert(int(self.rng.integers(0, len(prices) + 1)), ["Foo 99 2024 01: +0", "1.0", "1"])
        self.sent[i] = hi
        cur = self.items[i]["currency"]
        return {
            "success": True,
            "price_prefix": "$" if cur == "USD" else "",
            "price_suffix": {"EUR": "€", "USD": "", "GBP": "£"}[cur],
            "prices": prices,
            **self._ident(i),
        }

    def initial_history(self, points: int) -> list[dict]:
        return [self.history_payload(i, points, 0) for i in range(self.n_items)]

    def _pricehistory(self):
        rows = []
        for i in self._pick():
            rows.append(self.history_payload(i, int(self.rng.integers(16, 33)), 8))
        return rows, [r["market_hash_name"] for r in rows]

    # ------------------------------------------------------------ expected
    def n_history(self) -> int:
        """Distinct price-history points sent so far."""
        return int(self.sent.sum())

    def expected_history(self) -> list[tuple]:
        out = []
        for i, pts in enumerate(self.history):
            it = self.items[i]
            for when, _, price, vol in pts[: int(self.sent[i])]:
                out.append((it["market_hash_name"], it["currency"], when, price, vol))
        return sorted(out)
