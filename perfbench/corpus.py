"""Seeded input generators. The program under test only ever sees what is
made here: Carbon wire lines (as a DataFrame or as drop-dir files), HTTP
request URLs, and parquet tables. The same seed gives the same inputs.

The expected answers the workloads check against are computed from the
generator's own arrays, never from the engine's output.
"""

from __future__ import annotations

from urllib.parse import quote

import numpy as np

from common import series_match

# 2023-11-14 01:00:00 UTC: every generated point falls in one date bucket
BASE = 1_699_923_600
STEP = 10  # finest rollup window
ROLLUPS = {"default": {"method": "average", "windows": ["10s:20y", "60s:30y", "600s:40y"]}}
ZIPF_S = 1.1
# one serve cycle: 4 /render, 3 /metrics, 3 /metrics/find
ROUTE_CYCLE = "RMFRMFRMFR"
ROUTE_NAMES = {"R": "render", "M": "metrics", "F": "find"}


def rollup_config():
    from cassabon_spark.config import RollupConfig

    return RollupConfig.from_dict(ROLLUPS)


class Carbon:
    """`hosts` x `metrics` paths `svc.hNN.mNN`, `per_window` points in each
    of `windows` consecutive 10 s windows starting at BASE. Values are
    thousandths, so the wire text round-trips exactly."""

    def __init__(self, seed: int, hosts: int, metrics: int, windows: int, per_window: int = 2):
        rng = np.random.default_rng(seed)
        self.hosts, self.metrics, self.windows = hosts, metrics, windows
        self.per_window = per_window
        self.paths = [f"svc.h{h:02d}.m{m:02d}" for h in range(hosts) for m in range(metrics)]
        self.index = {p: i for i, p in enumerate(self.paths)}
        self.milli = rng.integers(0, 100_000, size=(len(self.paths), windows, per_window))

    @property
    def end_s(self) -> int:
        """Close of the last window (rollup rows carry their window's close)."""
        return BASE + self.windows * STEP

    def lines(self, w0: int = 0, w1: int | None = None) -> list[str]:
        """Wire lines of windows [w0, w1), in time order."""
        w1 = self.windows if w1 is None else w1
        sub = STEP // self.per_window
        out = []
        for w in range(w0, w1):
            for j in range(self.per_window):
                ts = BASE + w * STEP + j * sub
                col = self.milli[:, w, j]
                out.extend(
                    f"{p} {v // 1000}.{v % 1000:03d} {ts}" for p, v in zip(self.paths, col)
                )
        return out

    def n_lines(self, w0: int = 0, w1: int | None = None) -> int:
        w1 = self.windows if w1 is None else w1
        return (w1 - w0) * self.per_window * len(self.paths)

    def window_avg(self, path: str, w: int) -> float:
        vals = self.milli[self.index[path], w] / 1000
        return float(sum(vals.tolist()) / self.per_window)

    def grid(self, path: str, from_s: int, to_s: int, upto_w: int | None = None) -> list:
        """The 10 s grid GET /metrics answers: slots from the always-advanced
        normalized `from` through `to`, each holding the window that closes
        there; None where no window was written (only the first `upto_w`
        windows count as written)."""
        upto_w = self.windows if upto_w is None else upto_w
        nfrom = from_s + (STEP - from_s % STEP)
        out = []
        for s in range(nfrom, to_s + 1, STEP):
            w = (s - BASE) // STEP - 1
            out.append(self.window_avg(path, w) if 0 <= w < upto_w else None)
        return out

    def leaves(self, host: int) -> list[str]:
        return [f"svc.h{host:02d}.m{m:02d}" for m in range(self.metrics)]

    def expect_sum_series(self, paths: list[str], from_s: int, to_s: int, upto_w=None) -> dict:
        cols = zip(*(self.grid(p, from_s, to_s, upto_w) for p in paths))
        return {
            "sumSeries": [
                None if all(v is None for v in c) else sum(v for v in c if v is not None)
                for c in cols
            ]
        }

    def expect_moving_average(self, paths: list[str], from_s: int, to_s: int, n: int) -> dict:
        out = {}
        for p in paths:
            g = self.grid(p, from_s, to_s)
            vals = []
            for i in range(len(g)):
                win = [v for v in g[max(0, i - n + 1) : i + 1] if v is not None]
                vals.append(sum(win) / len(win) if win else None)
            out[p] = vals
        return out


def zipf_picker(rng, n: int, s: float = ZIPF_S):
    """Bounded Zipf over n items; which item is hottest is itself seeded."""
    p = 1.0 / np.arange(1, n + 1) ** s
    p /= p.sum()
    perm = rng.permutation(n)
    return lambda: int(perm[rng.choice(n, p=p)])


def serve_schedule(seed: int, c: Carbon, n: int) -> list[dict]:
    """n requests in a fixed route cycle; hosts, metrics and time windows are
    Zipf-skewed so keys repeat. Each entry carries what its check needs."""
    rng = np.random.default_rng(seed + 1)
    host, metric = zipf_picker(rng, c.hosts), zipf_picker(rng, c.metrics)
    spans = [c.windows, c.windows // 2, c.windows // 4]  # trailing windows, in slots
    span = zipf_picker(rng, len(spans))
    out = []
    for i in range(n):
        kind = ROUTE_NAMES[ROUTE_CYCLE[i % len(ROUTE_CYCLE)]]
        to_s = c.end_s
        from_s = to_s - spans[span()] * STEP
        if kind == "find":
            h = host()
            out.append({"route": kind, "url": f"/metrics/find?query=svc.h{h:02d}.*", "host": h})
        elif kind == "metrics":
            k = int(rng.integers(1, 4))
            paths = sorted({f"svc.h{host():02d}.m{metric():02d}" for _ in range(k)})
            q = "&".join(f"path={p}" for p in paths)
            out.append(
                {"route": kind, "url": f"/metrics?{q}&from={from_s}&to={to_s}",
                 "paths": paths, "from": from_s, "to": to_s}
            )
        else:
            if (i // len(ROUTE_CYCLE)) % 2 == 0:
                h = host()
                target, expect = f"movingAverage(svc.h{h:02d}.*,6)", ("ma", c.leaves(h))
            else:
                m = metric()
                target = f"sumSeries(svc.*.m{m:02d})"
                expect = ("sum", [f"svc.h{h:02d}.m{m:02d}" for h in range(c.hosts)])
            out.append(
                {"route": kind,
                 "url": f"/render?target={quote(target)}&from={from_s}&until={to_s}",
                 "target": target, "expect": expect, "from": from_s, "to": to_s}
            )
    return out


def check_serve(c: Carbon, req: dict, body) -> bool:
    """Independent answer for one serve request, compared to its JSON body."""
    if req["route"] == "find":
        want = {(p, 1) for p in c.leaves(req["host"])}
        return {(e["id"], e["leaf"]) for e in body} == want
    if req["route"] == "metrics":
        want = {p: c.grid(p, req["from"], req["to"]) for p in req["paths"]}
        return body["step"] == STEP and series_match(body["series"], want)
    kind, paths = req["expect"]
    if kind == "ma":
        want = c.expect_moving_average(paths, req["from"], req["to"], 6)
    else:
        want = c.expect_sum_series(paths, req["from"], req["to"])
    return series_match(body["series"], want)


# ---------------------------------------------------------------- analytics

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "large", "small", "red", "green", "hot", "dark"]
_NOUN = ["bolt", "rod", "widget", "gear", "nut", "pipe", "valve", "spring"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_WORDS = (
    "a the data table row column key join merge sort scan filter group hash "
    "window stream batch query order line part customer vector fast slow small "
    "spark agg index"
).split()


def write_tables(out_dir, seed: int, scale: float = 1.0) -> None:
    """TPC-H-shaped star schema plus events, documents and embeddings, in the
    column layout the query registry reads. scale=1 is about 6,000
    lineitem rows."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150 * scale), max(int(10 * scale), 5), int(200 * scale)
    n_ord, n_li, n_ev, n_doc = int(1500 * scale), int(6000 * scale), int(1000 * scale), 500

    def pick(xs, n):
        return [xs[i] for i in rng.integers(0, len(xs), n)]

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start: dt.date, span: int, n):
        d0 = np.datetime64(start, "us")
        return d0 + rng.integers(0, span, n).astype("timedelta64[D]")

    tables = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS},
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(_SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(pick(_ADJ, n_part), pick(_NOUN, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": pick(_PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 200) * 0.1, 2),
        },
    }
    odate = days(dt.date(1995, 1, 1), 2404, n_ord)
    tables["orders"] = {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pick(_PRIORITIES, n_ord),
    }
    li_order = rng.integers(0, n_ord, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    ship = odate[li_order] + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    tables["lineitem"] = {
        "l_orderkey": pa.array(li_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    }
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    tables["events"] = {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, n_ev), pa.int64()),
        "event_type": pick(_EVENTS, n_ev),
        "value": money(0.01, 330.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    # documents: random word runs, a tenth of them near-copies of an earlier
    # one (a word or two swapped), so the dedup queries have work to find
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = pick(_WORDS, int(rng.integers(8, 100)))
        texts.append(" ".join(words))
    tables["documents"] = {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": pick(_LANGS, n_doc),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }
    labels = rng.integers(0, 10, n_doc)
    centers = rng.normal(0, 1, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.3, (n_doc, 64))).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": pa.array(range(n_doc), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), out_dir / f"{name}.parquet")
