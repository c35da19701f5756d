"""`analytics`: every second name of the first 17 in `bench.HEADLINE` (the
one-per-operator-family part; bench.py reports its subtotal as
`value_original17`) once per pass, in order, with
`clearCache()` between names and `.count()` forcing each plan, over tables
generated from the seed. Set-up warms every query once (in parallel) on a
smaller table set in another directory, so the registry's per-directory
memos never serve the timed pass; each row count is checked against the
entry's DuckDB oracle SQL over the same files.
"""

from __future__ import annotations

import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

from common import geomean, median, nproc
from corpus import write_tables

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def query_names() -> list[str]:
    """bench.HEADLINE[:17] is one query per operator family; every second
    one still spans scan/aggregate, joins, windows, the carbon rollup,
    dedup, similarity and text. All 22 (or 17) would take a run past its
    share of the benchmark's time budget, which JVM start and cold codegen
    already mostly fill."""
    from bench import HEADLINE

    return list(HEADLINE[:17:2])


class Analytics:
    def __init__(self, spark, work, seed: int, seconds: float, smoke: bool):
        from cassabon_spark.queries import load_registry

        self.spark, self.work, self.seed, self.smoke = spark, work, seed, smoke
        self.names = query_names()
        self.registry = load_registry()
        self.scale = 0.3 if smoke else 1.0
        self.phases = 0

    def _oracle_counts(self, data) -> dict:
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        out = {}
        for n in self.names:
            sql = self.registry[n].sql
            if sql is not None:
                out[n] = len(con.execute(sql).fetchall())
        con.close()
        return out

    def setup(self) -> None:
        t0 = time.perf_counter()
        self.data = self.work / "data"
        write_tables(self.data, self.seed, self.scale)
        t1 = time.perf_counter()
        self.expected = self._oracle_counts(self.data)
        t2 = time.perf_counter()
        self.setup_parts = {"tables_s": t1 - t0, "oracle_s": t2 - t1}
        if self.smoke:
            return
        warm = self.work / "warm"
        write_tables(warm, self.seed + 1, self.scale / 4)

        def run(name):
            self.registry[name].fn(self.spark, str(warm)).count()

        with ThreadPoolExecutor(nproc()) as ex:
            list(ex.map(run, self.names))
        self.setup_parts["warm_s"] = time.perf_counter() - t2

    def timed(self, seconds: float, tracer=None) -> dict:
        """A fixed number of whole passes, one per 4 s of `seconds` and at
        least two, so each query's time is a mean over passes; a count that
        does not depend on speed keeps every run's sample alike. Each phase
        reads its own copy of the tables (see the module note)."""
        self.phases += 1
        data = self.work / f"data{self.phases}"
        shutil.copytree(self.data, data)
        sc = self.spark.sparkContext
        runs: list[dict] = []
        for _ in range(max(2, round(seconds / 4))):
            for name in self.names:
                self.spark.catalog.clearCache()
                rec = {"name": name}
                if tracer is not None:
                    tracer.set_req(name)
                    sc.setJobGroup(f"req-{name}", "perfbench")
                s = time.perf_counter()
                try:
                    with _span(tracer, "queries.build"):
                        df = self.registry[name].fn(self.spark, str(data))
                    rec["build_ms"] = (time.perf_counter() - s) * 1000
                    with _span(tracer, "queries.run"):
                        rec["rows"] = df.count()
                    rec["ms"] = (time.perf_counter() - s) * 1000
                except Exception as e:  # noqa: BLE001
                    rec["error"] = repr(e)[:200]
                finally:
                    if tracer is not None:
                        sc._jsc.clearJobGroup()
                runs.append(rec)
        return {"runs": runs,
                "ops": {r["name"]: r["ms"] for r in runs if "ms" in r},
                "engine_stats": {}}

    def check(self, ph: dict) -> tuple[int, list[str]]:
        bad = [
            f"{r['name']}: {r['rows']} rows, oracle {self.expected[r['name']]}"
            for r in ph["runs"]
            if "rows" in r and r["name"] in self.expected and r["rows"] != self.expected[r["name"]]
        ]
        return 0, bad

    def summarize(self, ph: dict) -> dict:
        ok = [r for r in ph["runs"] if "ms" in r]
        per_query = {}
        for r in ok:
            per_query.setdefault(r["name"], []).append(r["ms"])
        mean_ms = [sum(v) / len(v) for v in per_query.values()]
        total_s = sum(r["ms"] for r in ok) / 1000
        return {
            "throughput": len(ok) / total_s if total_s else 0.0,
            "p50_ms": median(mean_ms),
            "geomean_ms": geomean(mean_ms),
            "attempted": len(ph["runs"]),
            "failed": len(ph["runs"]) - len(ok),
            "detail": {
                "passes": len(ph["runs"]) // len(self.names),
                "query_total_s": round(total_s, 3),
                "oracle_checked": len(self.expected),
                "errors": [r for r in ph["runs"] if "error" in r][:3],
                "queries_ms": {n: round(sum(v) / len(v), 1) for n, v in per_query.items()},
            },
        }

    def layers(self, ph: dict, tracer) -> tuple[dict, list[str]]:
        from tracing import stage_metrics

        out = {}
        sc = self.spark.sparkContext
        passes = len(ph["runs"]) // len(self.names)
        for n in self.names:
            runs = [r for r in ph["runs"] if r["name"] == n]
            out[f"q.{n}.wall_ms"] = sum(r.get("ms", 0.0) for r in runs) / passes
            out[f"q.{n}.build_ms"] = sum(r.get("build_ms", 0.0) for r in runs) / passes
            out[f"q.{n}.task_s"] = stage_metrics(sc, [f"req-{n}"])["task_ms"] / 1000 / passes
        return out, []


def _span(tracer, name):
    return tracer.span(name) if tracer is not None else nullcontext()
