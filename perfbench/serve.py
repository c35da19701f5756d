"""`serve`: a read-only store behind `CassabonAPI`, driven by a closed loop
of client threads over a fixed route cycle (4 /render, 3 /metrics,
3 /metrics/find per 10 requests) with Zipf-skewed keys. Every response is
checked against the generator's own arrays after the timed phase.
"""

from __future__ import annotations

import itertools
import json
import math
import threading
import time
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor

from common import geomean, median, nproc
from corpus import ROUTE_CYCLE, ROUTE_NAMES, ZIPF_S, Carbon, check_serve, rollup_config, serve_schedule

CLIENTS = 2


class Serve:
    def __init__(self, spark, work, seed: int, seconds: float, smoke: bool):
        self.spark, self.work = spark, work
        self.clients = min(CLIENTS, nproc())
        hosts, metrics = (10, 10) if smoke else (50, 40)
        self.carbon = Carbon(seed, hosts, metrics, windows=12 if smoke else 18)
        self.schedule = serve_schedule(seed, self.carbon, 10_000)

    def setup(self) -> None:
        from cassabon_spark.api import CassabonAPI
        from cassabon_spark.engine import Engine

        t0 = time.perf_counter()
        eng = Engine(self.spark, rollup_config(), str(self.work / "store"),
                     str(self.work / "index"), table_format="snapshot")
        src = self.work / "lines.txt"
        src.write_text("\n".join(self.carbon.lines()) + "\n")
        eng.ingest_lines(self.spark.read.text(str(src)), line_col="value")
        t1 = time.perf_counter()
        eng.compact()
        t2 = time.perf_counter()
        self.engine = eng
        self.api = CassabonAPI(eng).start()
        # warm each route (and each render target shape) once, in parallel
        first = {}
        for req in self.schedule[:2 * len(ROUTE_CYCLE)]:
            first.setdefault((req["route"], req.get("expect", ("",))[0]), req)
        with ThreadPoolExecutor(len(first)) as ex:
            list(ex.map(lambda r: self._get(r, "warm"), first.values()))
        self.setup_parts = {"ingest_s": t1 - t0, "compact_s": t2 - t1,
                            "warm_s": time.perf_counter() - t2}

    def stop(self) -> None:
        if hasattr(self, "api"):
            self.api.stop()

    def _get(self, req: dict, rid: str):
        r = urllib.request.Request(self.api.url + req["url"], headers={"X-Bench-Req": rid})
        try:
            with urllib.request.urlopen(r, timeout=120) as resp:
                return resp.status, resp.read()
        except urllib.error.HTTPError as e:
            return e.code, e.read()

    def _engine_stats(self) -> dict:
        return {**self.engine.cache_stats, **self.engine.prune_stats}

    def timed(self, seconds: float, tracer=None) -> dict:
        if tracer is not None:
            tracer.wrap(self.api._server.RequestHandlerClass, "do_GET", "api.handler",
                        req_from=lambda args: args[0].headers.get("X-Bench-Req"))
        stats0 = self._engine_stats()
        cursor = itertools.count()
        results: list[tuple] = []
        t0 = time.perf_counter()
        deadline = t0 + seconds

        def client():
            while time.perf_counter() < deadline:
                i = next(cursor)
                req = self.schedule[i % len(self.schedule)]
                s = time.perf_counter()
                try:
                    status, body = self._get(req, str(i))
                except Exception as e:  # noqa: BLE001
                    status, body = 0, repr(e).encode()
                results.append((i, req, (time.perf_counter() - s) * 1000, status, body))

        threads = [threading.Thread(target=client) for _ in range(self.clients)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        stats1 = self._engine_stats()
        results.sort(key=lambda r: r[0])
        return {"results": results,
                "ops": {str(i): ms for i, _, ms, st, _ in results if st == 200},
                "engine_stats": {k: stats1[k] - stats0[k] for k in stats1}}

    def check(self, ph: dict) -> tuple[int, list[str]]:
        """Every answered request against the generator (errors are already
        counted as failed by summarize)."""
        bad = []
        for i, req, _, status, body in ph["results"]:
            if status != 200:
                continue
            try:
                ok = check_serve(self.carbon, req, json.loads(body))
            except Exception:  # noqa: BLE001 - an unparsable body is a wrong answer
                ok = False
            if not ok:
                bad.append(f"request {i}: {req['url'][:100]}")
        return 0, bad

    def summarize(self, ph: dict) -> dict:
        res = ph["results"]
        by_route = {}
        for _, req, ms, status, _ in res:
            by_route.setdefault(req["route"], []).append(ms)
        # routes differ several-fold in cost and a run holds only a few
        # cycles, so the mix a run happens to complete varies: weight each
        # route's figures by its share of the cycle instead. A closed loop
        # completes clients / (mean latency) requests per second.
        share = {ROUTE_NAMES[c]: ROUTE_CYCLE.count(c) for c in set(ROUTE_CYCLE)}
        total = sum(share[r] for r in by_route)

        def mix(stat):
            return sum(share[r] * stat(v) for r, v in by_route.items()) / total

        return {
            "throughput": self.clients * 1000 / mix(lambda v: sum(v) / len(v)),
            "p50_ms": mix(median),
            "geomean_ms": math.exp(mix(lambda v: math.log(geomean(v)))),
            "attempted": len(res),
            "failed": sum(st != 200 for _, _, _, st, _ in res),
            "detail": {
                "requests": len(res), "clients": self.clients, "zipf_s": ZIPF_S,
                "route_cycle": ROUTE_CYCLE, "store_lines": self.carbon.n_lines(),
                "paths": len(self.carbon.paths),
                **{f"{r}_p50_ms": round(median(v), 3) for r, v in by_route.items()},
                **{f"{r}_n": len(v) for r, v in by_route.items()},
            },
        }

    def layers(self, ph: dict, tracer) -> tuple[dict, list[str]]:
        """api.self_ms: client wall minus the time the handler spent in its
        child (engine) spans, per request; api.resp_kb: mean body size."""
        from tracing import self_times

        st = self_times(tracer.spans)
        inner = {s["req"]: (s["end"] - s["start"]) * 1000 - st[s["id"]]
                 for s in tracer.spans if s["name"] == "api.handler"}
        self_ms = [ms - inner[r] for r, ms in ph["ops"].items() if r in inner]
        bodies = [len(b) for _, _, _, _, b in ph["results"]]
        return {"api.self_ms": median(self_ms),
                "api.resp_kb": sum(bodies) / max(len(bodies), 1) / 1024}, []
