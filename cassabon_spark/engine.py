"""Engine facade: the reference's full user-facing surface over one durable
store — what a cassabon user switches to.

Reference API surface (api/api.go:44-52):
  POST (carbon line ingest, TCP/UDP)  -> ingest_lines / start_streaming_ingest
  GET    /metrics?path&from&to        -> get_metrics
  GET    /paths?query=glob            -> get_paths
  DELETE /metrics                     -> delete_metrics (dry-run default TRUE,
                                         api.go:188-191)
  DELETE /paths                       -> delete_paths (unimplemented upstream,
                                         indexmanager.go:294-296; implemented)

Storage:
  store_dir  — rollup rows in a snapshot table (sources/snapshot.py):
               parquet partitioned by (resolution_s, date_bucket) under a
               manifest log, so every write is one atomic commit
  index_dir  — path index (path, depth, tenant, leaf), small parquet

Scale notes:
  * DELETE /metrics is one manifest commit that rewrites only the files
    holding hits; readers keep the snapshot they started on. Nothing
    touches the rest of a 100 TB store.
  * Retention is a manifest-only partition drop; bytes go at vacuum.
  * Index maintenance is incremental and runs on the driver: each ingest
    diffs the paths of its staged store files against the driver copy of
    the index and appends only first sightings.
"""

from __future__ import annotations

import shutil
import threading
import time
from functools import reduce
from itertools import chain
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassabon_spark.config import RollupConfig
from cassabon_spark.operators import query as qmod
from cassabon_spark.operators.index import (
    INDEX_SCHEMA,
    PathIndex,
    glob_depth,
    glob_to_regex,
    index_hook,
    load_index,
    merge_index_rows,
    publish_part,
)
from cassabon_spark.operators.rollup import (
    PARTITION_COLS,
    retention_cutoff_days,
    rollup_tiers,
    with_date_bucket,
)
from cassabon_spark.session import empty_frame, release_checkpoint
from cassabon_spark.sources.carbon import parse_carbon_lines
from cassabon_spark.sources.snapshot import SnapshotTable


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        config: RollupConfig,
        store_dir: str,
        index_dir: str | None = None,
        table_format: str = "snapshot",
    ):
        """The store is a manifest-based snapshot table (sources/snapshot.py):
        atomic commits, snapshot-isolated readers during delete/compact,
        manifest-only retention, time travel. `table_format` names that one
        format; any other value raises ValueError."""
        self.spark = spark
        self.config = config
        self.store_dir = store_dir
        self.index_dir = index_dir or f"{store_dir}_index"
        # graphite 1.1 tagged series get their own inverted index (the
        # reference predates tags; operators/tags.py) — tagged paths stay
        # OUT of the dot-tree index, exactly like graphite-web
        self.tag_index_dir = f"{self.index_dir}_tags"
        # graphite-web events store (annotations: deploys/incidents) — the
        # reference has no events concept; operators/events.py
        self.events_dir = f"{store_dir}_events"
        if table_format != "snapshot":
            raise ValueError(f"unknown table_format {table_format!r}")
        self.table = SnapshotTable(spark, store_dir)
        # GET /metrics result cache, keyed by snapshot version: every write
        # (ingest/delete/compact/retention) bumps the version and thereby
        # invalidates. The reference has no result cache
        # (every GET re-queries Cassandra, datastore/metricquery.go:86-230);
        # at 100 TB dashboards re-request identical ranges constantly and
        # this short-circuits the whole scan for them.
        self._result_cache: dict[tuple, dict] = {}
        self._result_cache_max = 256
        self._result_cache_lock = threading.Lock()  # the HTTP server is threaded
        self.cache_stats = {"hits": 0, "misses": 0}
        # manifest-pruning effectiveness across store_for reads: files the
        # manifest listed vs files actually planned
        self.prune_stats = {"files_total": 0, "files_read": 0, "reads": 0}

    # ------------------------------------------------------------ store access

    @property
    def store(self) -> DataFrame:
        return self.table.read()

    def store_for(
        self,
        from_s: int | None = None,
        to_s: int | None = None,
        paths: list[str] | None = None,
    ) -> DataFrame:
        """Store scan for a time-bounded read: the latest snapshot's file
        list, cut driver-side from the manifest before Spark plans
        (operators.query.pin_store). The callers still apply the exact row
        filter."""
        return self._pin(from_s, to_s, paths).frame()

    def _pin(self, from_s, to_s, paths, version: int | None = None) -> qmod.StoreRead:
        return qmod.pin_store(self.table, from_s, to_s, paths, self.prune_stats, version)

    @property
    def index(self) -> DataFrame:
        return merge_index_rows(self.spark.read.parquet(self.index_dir))

    def _path_index(self) -> PathIndex:
        return load_index(self.index_dir)  # shared with this process's ingest

    def _has_store(self) -> bool:
        return bool(self.table.snapshot()["files"])

    # ------------------------------------------------------------ write path

    def ingest_lines(self, lines: DataFrame, line_col: str = "line") -> dict:
        """Batch ingest (the backfill path): carbon wire lines -> parse/
        validate -> route -> all rollup tiers -> partitioned store append;
        index updated incrementally. Returns ingest counters."""
        metrics, obs = parse_carbon_lines(lines, line_col=line_col, observe=True)
        # the finest-tier checkpoint reads `lines` once, filling `obs`
        finest, tiers = rollup_tiers(metrics, self.config)
        try:
            self.table.append(
                with_date_bucket(tiers)
                .repartition(*PARTITION_COLS, "path")
                .sortWithinPartitions("path", "time"),
                partition_cols=PARTITION_COLS,
                before_commit=index_hook(
                    self.spark, self.table, self.index_dir, self.tag_index_dir
                ),
            )
        finally:
            release_checkpoint(finest)
        return {"received": obs.get["ok"], "rejected": obs.get["malformed"]}

    def start_streaming_ingest(self, lines_dir: str, checkpoint_dir: str, **kw):
        """Streaming ingest (partial-agg appends + merge-at-read; see
        streaming.ingest). New paths ride each microbatch into the index
        (reference SURVEY §3.1 step 8)."""
        from cassabon_spark.streaming.ingest import ingest_stream

        kw.setdefault("index_dir", self.index_dir)
        return ingest_stream(
            self.spark, self.config, lines_dir, self.store_dir, checkpoint_dir, **kw
        )

    def _has_tag_index(self) -> bool:
        p = Path(self.tag_index_dir)
        return p.exists() and any(p.iterdir())

    @property
    def tag_index(self) -> DataFrame:
        return self.spark.read.parquet(self.tag_index_dir)

    def list_tags(self) -> list[str]:
        """Distinct tag names (graphite /tags autocomplete)."""
        if not self._has_tag_index():
            return []
        return [
            r["tag"]
            for r in self.tag_index.select("tag").distinct().orderBy("tag").collect()
        ]

    def list_tag_values(self, tag: str) -> list[str]:
        """Distinct values of one tag (graphite /tags/<tag> autocomplete)."""
        if not self._has_tag_index():
            return []
        return [
            r["value"]
            for r in self.tag_index.filter(F.col("tag") == tag)
            .select("value")
            .distinct()
            .orderBy("value")
            .collect()
        ]

    def get_tagged_series(self, *exprs: str) -> list[str]:
        """seriesByTag resolution: tag expressions -> matching series names
        (sorted). Empty when no tagged series were ever ingested."""
        from cassabon_spark.operators.tags import series_by_tag

        if not self._has_tag_index():
            return []
        return [
            r["series"]
            for r in series_by_tag(self.tag_index, *exprs)
            .orderBy("series")
            .collect()
        ]

    def upsert_rollups(self, df: DataFrame) -> dict:
        """Point corrections (late fixes, backfill-with-replace): atomically
        replace ALL stored partial rows for each (path, time, resolution_s)
        key with the given finalized rows — one MERGE manifest commit, so a
        correction swaps in consistently (readers never see old+new partials
        double-merge at read).

        df needs the store schema (path, time, cnt, vsum, vmin, vmax,
        vlast, last_ts, resolution_s); date_bucket derives from time."""
        src = df if "date_bucket" in df.columns else with_date_bucket(df)
        return self.table.merge(
            src, keys=["path", "time", "resolution_s"], partition_cols=PARTITION_COLS
        )

    # ------------------------------------------------------------ events API

    def add_event(
        self,
        what: str,
        tags: list[str] | str | None = None,
        when_s: int | None = None,
        data: str = "",
    ) -> dict:
        """graphite-web POST /events/: store an annotation (deploy,
        incident). Returns the stored record (with its id)."""
        from cassabon_spark.operators.events import append_events

        return append_events(
            self.spark,
            self.events_dir,
            [{"what": what, "tags": tags, "when_s": when_s, "data": data}],
        )[0]

    def get_events(
        self,
        from_s: int | None = None,
        to_s: int | None = None,
        tags: list[str] | None = None,
    ) -> list[dict]:
        """graphite-web GET /events/get_data: events in the window carrying
        ALL requested tags, oldest first."""
        from cassabon_spark.operators.events import find_events

        df = find_events(self.spark, self.events_dir, from_s, to_s, tags)
        return [
            {
                "id": r["id"],
                "when": r["when_s"],
                "what": r["what"],
                "tags": list(r["tags"]),
                "data": r["data"],
            }
            for r in df.orderBy("when_s", "id").collect()
        ]

    def _has_events(self) -> bool:
        p = Path(self.events_dir)
        return p.exists() and any(p.iterdir())

    def delete_tag_series(self, series: list[str]) -> int:
        """graphite-web `/tags/delSeries`: drop every tag-index row of the
        given serialized series names. Returns distinct series removed.
        Store data is untouched (graphite semantics: delSeries only edits
        the tag database; pair with delete_metrics to drop the points)."""
        from cassabon_spark.operators.tags import purge_tag_index_series

        if not self._has_tag_index():
            return 0
        return purge_tag_index_series(self.spark, self.tag_index_dir, series)

    def _gc_tag_series(self, candidates: list[str]) -> int:
        """Purge tag-index rows for candidate series that no longer have ANY
        stored data (checked across all tiers). Called after deletes and
        retention so seriesByTag never resolves a data-less series (VERDICT
        r2 gap #1). The candidate list is bounded (explicit delete targets
        or the series-count-sized tag index), and the store probe is a
        single-column semi-scan of only the candidate paths."""
        from cassabon_spark.operators.tags import purge_tag_index_series

        candidates = [p for p in candidates if ";" in p]
        if not candidates or not self._has_tag_index():
            return 0
        alive: set = set()
        if self._has_store():
            alive = {
                r["path"]
                for r in self.store.filter(F.col("path").isin(candidates))
                .select("path")
                .distinct()
                .collect()
            }
        dead = [p for p in candidates if p not in alive]
        return purge_tag_index_series(self.spark, self.tag_index_dir, dead)

    def gc_tag_index(self) -> int:
        """Tag-index garbage collection: remove entries whose series have no
        remaining stored points. Anti-joins the (small) tag index against
        the store's tagged paths — one narrow column scan, maintenance-time
        cost — and hands the dead set to the purge as a DATAFRAME: no
        driver-side series list at any cardinality (VERDICT r3 note #1).
        Run by sweep_retention; callable standalone."""
        if not self._has_tag_index():
            return 0
        tag_series = self.tag_index.select("series").distinct()
        dead_df = tag_series
        if self._has_store():
            alive = (
                self.store.filter(F.col("path").contains(";"))
                .select(F.col("path").alias("series"))
                .distinct()
            )
            dead_df = tag_series.join(alive, "series", "left_anti")
        from cassabon_spark.operators.tags import purge_tag_index_where

        return purge_tag_index_where(self.spark, self.tag_index_dir, dead_df)

    def sweep_retention(self, now_s: int) -> list[str]:
        """Retention job: drop expired (resolution_s, date_bucket)
        partitions, TTL = retention * 1.1 like the reference
        (metricmanager.go:163-171). A manifest-only commit: expired
        partitions leave the snapshot at once and vacuum reclaims the bytes
        later, so the sweep reads no data and scales with partition count.
        Returns the dropped partitions' directories."""
        cutoffs = retention_cutoff_days(self.config, now_s)

        def expired(part: dict) -> bool:
            cutoff = cutoffs.get(int(part["resolution_s"]))
            return cutoff is not None and part["date_bucket"] < cutoff

        _, dropped = self.table.drop_partitions(expired)
        out = [
            f"{self.store_dir}/resolution_s={d['resolution_s']}/"
            f"date_bucket={d['date_bucket']}"
            for d in dropped
        ]
        if out:
            # tag index must follow the data out (VERDICT r2 gap #1): any
            # tagged series fully expired by this sweep stops resolving
            self.gc_tag_index()
        return out

    def compact(self, resolution_s: int | None = None, date_bucket: str | None = None) -> int:
        """Collapse streaming partials to one row per (path, window) — the
        reference's flush (datastore/metricstore.go:85-185), run as
        maintenance: one rewrite_partition commit per partition. Without
        arguments compacts every existing partition (fine locally; at scale
        schedule per recent partition). Returns partitions touched."""
        from cassabon_spark.streaming.ingest import compact_snapshot_partition

        parts = sorted(
            {
                (f["partition"]["resolution_s"], f["partition"]["date_bucket"])
                for f in self.table.snapshot()["files"]
            }
        )
        touched = 0
        for res, day in parts:
            if resolution_s is not None and int(res) != resolution_s:
                continue
            if date_bucket is not None and day != date_bucket:
                continue
            self.table.rewrite_partition(
                {"resolution_s": res, "date_bucket": day},
                compact_snapshot_partition,
                partition_cols=PARTITION_COLS,
            )
            touched += 1
        return touched

    # ------------------------------------------------------------ read path

    def get_metrics(
        self, paths: list[str], from_s: int, to_s: int, now_s: int | None = None
    ) -> dict:
        """GET /metrics -> MetricResponse-shaped dict (A10-A16). An engine
        with no data yet answers an all-null grid, like the reference
        answering from empty tables."""
        if not self._has_store():
            step = min(
                (self.config.route(p).finest.window_s for p in paths), default=0
            )
            if not paths or step == 0:
                return {"from": from_s, "to": to_s, "step": 0, "series": {}}
            nfrom = qmod.normalize_from(from_s, step)
            n_slots = max((to_s - nfrom) // step + 1, 0)
            return {
                "from": nfrom,
                "to": to_s,
                "step": step,
                "series": {p: [None] * n_slots for p in paths},
            }
        now = int(time.time()) if now_s is None else now_s
        # `now` only picks each path's tier, so the key holds the plan (tiers,
        # steps, methods): wall-clock requests (HTTP passes no now_s) still hit
        fetch = qmod.Fetch.plan(
            self.config, paths, from_s, to_s, now, self.MAX_DATAPOINTS, self.MAX_RENDER_CELLS
        )
        version = self.table.version()  # one snapshot for the key and the read
        key = (fetch.key(), from_s, to_s, version)
        with self._result_cache_lock:
            cached = self._result_cache.get(key)
            self.cache_stats["hits" if cached is not None else "misses"] += 1
        if cached is not None:
            return cached
        resp = fetch.run(self.spark, self._pin(from_s, to_s, paths, version))
        with self._result_cache_lock:
            if len(self._result_cache) >= self._result_cache_max:
                self._result_cache.pop(next(iter(self._result_cache)))
            self._result_cache[key] = resp
        return resp

    def get_paths(self, glob: str) -> list[dict]:
        """GET /paths -> [IndexResponse] sorted by path (A17), answered from
        the driver-side copy of the index: no Spark job."""
        return self._path_index().glob(glob)

    #: maxDataPoints guard defaults (graphite-web's maxDataPoints): reads
    #: asking for more than MAX_DATAPOINTS slots per series consolidate to a
    #: coarser step at FETCH time (bounds the gap-fill spine AND the driver
    #: grid); a read whose paths x slots grid would still exceed
    #: MAX_RENDER_CELLS raises instead of OOMing the driver.
    MAX_DATAPOINTS = 100_000
    MAX_RENDER_CELLS = 4_000_000

    def render_target(
        self,
        target: str,
        from_s: int,
        to_s: int,
        now_s: int | None = None,
        max_datapoints: int | None = None,
    ) -> dict:
        """Graphite /render with a REAL target string:
        `render_target("summarize(nonNegativeDerivative(evt.*), '1h', 'sum')",
        from_s, to_s)`. Parses the graphite-web grammar
        (functions.graphite), resolves each glob through the index and the
        driver-side read, evaluates the function chain over one-partition
        grid DataFrames, and collects once as Arrow: one Spark job for a
        chain with no eager step. A one-target `render_targets`, answered
        by the same code.

        timeShift/timeStack fetch their shifted windows through the
        offset-aware resolver; maxDataPoints coarsens the fetch step (with
        the consolidateBy() method if the target names one); the response
        `step`/`from` are derived from the OUTPUT grid, so re-bucketing
        functions (summarize, hitcount) describe their own spacing. When
        series end up on different steps, a per-path "steps" map is added.
        """
        return self._render([target], from_s, to_s, now_s, max_datapoints)[0]

    def render_targets(
        self,
        targets: list[str],
        from_s: int,
        to_s: int,
        now_s: int | None = None,
        max_datapoints: int | None = None,
    ) -> dict:
        """Multiple targets in one response (graphite-web's repeated
        target= semantics) — the library-level twin of the HTTP /render
        route. Every target's chain goes into ONE plan collected once, so
        a request runs as many Spark jobs as one target does. The top-level
        series dict merges all targets (compat with the reference's
        MetricResponse shape); per-target responses are preserved under
        "targets" so same-named series and differing steps stay
        distinguishable (graphite's JSON list format carries them
        per-series)."""
        per_target = [
            {"target": t, **r}
            for t, r in zip(
                targets, self._render(targets, from_s, to_s, now_s, max_datapoints)
            )
        ]
        if not per_target:
            return {"from": from_s, "to": to_s, "step": 0, "series": {}}
        merged = {
            "from": min(r["from"] for r in per_target),
            "to": to_s,
            "step": min(r["step"] for r in per_target if r["step"]) if any(
                r["step"] for r in per_target
            ) else 0,
            "series": {},
            "targets": per_target,
        }
        mixed = len({r["step"] for r in per_target}) > 1
        if mixed:
            merged["steps"] = {}
        for r in per_target:
            merged["series"].update(r["series"])
            if mixed:
                merged["steps"].update({p: r["step"] for p in r["series"]})
        return merged

    def _render(
        self,
        targets: list[str],
        from_s: int,
        to_s: int,
        now_s: int | None,
        max_datapoints: int | None,
    ) -> list[dict]:
        """Each target's response, from one collect: every target's grid
        is tagged with its ordinal `__t`, the grids are unioned (a target
        without `__ord` reads it as null), collected once as Arrow, sorted
        by (__t, __ord, path, slot_s) and split per target on the driver."""
        now = now_s if now_s is not None else int(time.time())
        plans = [
            self._render_plan(t, from_s, to_s, now, max_datapoints) for t in targets
        ]
        grids = [
            g.select(F.lit(i).alias("__t"), "path", "slot_s", "stat",
                     *(["__ord"] if "__ord" in g.columns else []))
            for i, (g, _) in enumerate(plans)
            if g is not None
        ]
        if grids:
            union = reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True), grids
            )
            keys = [k for k in ("__t", "__ord", "path", "slot_s") if k in union.columns]
            table = qmod.collect_sorted(union, keys)
            bounds = np.searchsorted(
                table.column("__t").to_numpy(), np.arange(len(targets) + 1)
            )
        out = []
        for i, (grid, fetch_step) in enumerate(plans):
            if grid is None:
                out.append({"from": from_s, "to": to_s, "step": 0, "series": {}})
            else:
                rows = table.slice(bounds[i], bounds[i + 1] - bounds[i])
                out.append(_render_response(rows, fetch_step, from_s, to_s))
        return out

    def _render_plan(
        self, target: str, from_s: int, to_s: int, now: int, max_datapoints: int | None
    ) -> tuple[DataFrame | None, int]:
        """(the target's evaluated grid, its fetch step); no grid when the
        target names nothing this engine holds."""
        from cassabon_spark.functions.graphite import (
            TargetSyntaxError,
            evaluate_target,
            parse_target,
            target_consolidations,
            target_globs,
        )

        node = parse_target(target)
        globs = target_globs(node)
        md = max_datapoints if max_datapoints is not None else self.MAX_DATAPOINTS
        method_map = {
            "avg": "average", "sum": "sum", "min": "min", "max": "max",
            "last": "last",
        }
        # validate EVERY consolidateBy occurrence up front (a bogus method
        # 400s even if its subtree never fetches); the method itself is
        # scoped per-fetch by evaluate_target's consolidation stack
        # (ADVICE r2 #5 — it used to override every glob in the target)
        for c in target_consolidations(node):
            if c not in method_map:
                raise TargetSyntaxError(
                    f"consolidateBy({c!r}): one of {sorted(method_map)}"
                )
        step_holder: dict[str, int] = {}

        def grid_for_series(
            paths: list[str], offset_s: int = 0, consolidate: str | None = None
        ):
            f, t = from_s + offset_s, to_s + offset_s
            if not paths:
                return empty_frame(self.spark, qmod.GRID_SCHEMA)
            # one grid per glob: every path reads with the first one's route
            fetch = qmod.Fetch.plan(
                self.config, paths, f, t, now, md, self.MAX_RENDER_CELLS,
                method=method_map.get(consolidate), route_as=paths[0],
            )
            step_holder.setdefault("step", fetch.step)
            return fetch.frame(self.spark, self._pin(f, t, paths))

        leaves: dict[str, list[str]] = {}

        def leaf_paths(glob: str) -> list[str]:
            # one index lookup per glob per request: the step seed below and
            # every fetch of the glob (timeShift etc. refetch it) share it
            if glob not in leaves:
                leaves[glob] = [p["path"] for p in self.get_paths(glob) if p["leaf"]]
            return leaves[glob]

        def grid_for_glob(
            glob: str, offset_s: int = 0, consolidate: str | None = None
        ):
            return grid_for_series(leaf_paths(glob), offset_s, consolidate)

        has_tags = "seriesByTag" in target and self._has_tag_index()
        has_events = "events" in target and self._has_events()
        needs_store = bool(globs) or has_tags
        if (not needs_store and not has_events) or (
            needs_store and not self._has_store()
        ):
            return None, 0

        def events_grid(tags: list[str], offset_s: int = 0):
            from cassabon_spark.operators.events import events_count_grid

            return events_count_grid(
                self.spark,
                self.events_dir,
                from_s + offset_s,
                to_s + offset_s,
                ctx.get("step") or 60,
                tags,
            )

        ctx = {
            "spark": self.spark,
            "from_s": from_s,
            "to_s": to_s,
            "now_s": now,
            "series_by_tag": self.get_tagged_series,
            "grid_for_series": grid_for_series,
            "events_grid": events_grid,
        }
        # seed the context step from the first glob's tier so interval-string
        # windows and generators see the render resolution
        first_paths = (
            leaf_paths(globs[0]) if globs else self.get_tagged_series("name=~.")[:1]
        )
        if first_paths:
            d0 = self.config.route(first_paths[0])
            ctx["step"] = self.config.select_tier(d0.expression, from_s, now).window_s
        elif has_events:
            # events-only target: no glob to seed the step — use the
            # catchall route's tier for this window so event buckets match
            # what a metric series alongside them would use
            d0 = self.config.route("")
            ctx["step"] = self.config.select_tier(d0.expression, from_s, now).window_s
        grid = evaluate_target(node, grid_for_glob, context=ctx)
        return grid, step_holder.get("step", 0)

    def register_views(self, prefix: str = "carbon") -> list[str]:
        """Expose the store and index as temp views so plain spark.sql()
        works over them (`SELECT path, time, stat FROM carbon_store WHERE
        resolution_s = 10 AND path = '...'`). The reference has no SQL
        surface at all — this is the Spark-native bonus: every rollup row
        and index entry is queryable with the full SQL engine, predicate
        pushdown included."""
        names = []
        if self._has_store():
            self.store.createOrReplaceTempView(f"{prefix}_store")
            names.append(f"{prefix}_store")
        if self._path_index().listing:
            self.index.createOrReplaceTempView(f"{prefix}_index")
            names.append(f"{prefix}_index")
        return names

    def stats(self) -> dict:
        """Operational summary (the state the reference exposed via statsd
        gauges, logging/stats.go): rows and distinct paths per tier, stored
        time range, index size."""
        out: dict = {"tiers": {}, "index_entries": 0, "leaf_paths": 0}
        if self._has_store():
            rows = (
                self.store.groupBy("resolution_s")
                .agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.approx_count_distinct("path").alias("approx_paths"),
                    F.min("time").alias("t_min"),
                    F.max("time").alias("t_max"),
                )
                .collect()
            )
            for r in rows:
                out["tiers"][int(r["resolution_s"])] = {
                    "rows": r["rows"],
                    "approx_paths": r["approx_paths"],
                    "from": str(r["t_min"]),
                    "to": str(r["t_max"]),
                }
        buckets = self._path_index().by_depth.values()
        out["index_entries"] = sum(len(b) for b in buckets)
        out["leaf_paths"] = sum(leaf for b in buckets for _, _, _, leaf in b)
        return out

    # ------------------------------------------------------------ deletes

    def delete_metrics(
        self, paths: list[str], from_s: int, to_s: int, dry_run: bool = True
    ) -> list[dict]:
        """DELETE /metrics (A19): per (path, tier) hit counts; unless
        dry-run, rewrite ONLY the files holding hits, without the matched
        rows. Dry-run defaults TRUE like the reference."""
        if not self._has_store():
            return []
        hit = (
            F.col("path").isin(paths)
            & (F.unix_timestamp("time") >= from_s)
            & (F.unix_timestamp("time") <= to_s)
        )
        report = [
            {"path": r["path"], "resolution_s": r["resolution_s"], "count": r["cnt"]}
            for r in self.store.filter(hit)
            .groupBy("path", "resolution_s")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy("path", "resolution_s")
            .collect()
        ]
        if dry_run:
            return report

        # one atomic commit: only files containing hits are rewritten,
        # concurrent readers keep the pre-delete snapshot, crash before
        # commit changes nothing (orphans reclaimed by vacuum)
        self.table.delete_where(hit, partition_cols=PARTITION_COLS)
        self._gc_tag_series(paths)
        return report

    def delete_paths(self, glob: str) -> int:
        """DELETE /paths (A20, unimplemented upstream — implemented here):
        drop index entries matching the depth-scoped glob; returns the
        number of entries removed. The index is small (paths, not data);
        a full rewrite is the honest cost.

        Tagged series never enter the dot tree, but a glob that matches a
        tagged series' BASE name also purges its tag-index rows (counted in
        the return) — so one delete call retires a series from BOTH
        finders (VERDICT r2 gap #1)."""
        n_tags = 0
        if self._has_tag_index():
            from cassabon_spark.operators.tags import (
                base_expr,
                purge_tag_index_series,
            )

            tag_hit = [
                r["series"]
                for r in self.tag_index.select("series")
                .distinct()
                .filter(
                    (F.size(F.split(base_expr("series"), r"\.")) == glob_depth(glob))
                    & base_expr("series").rlike(glob_to_regex(glob))
                )
                .collect()
            ]
            n_tags = purge_tag_index_series(self.spark, self.tag_index_dir, tag_hit)
        idx = self._path_index()
        hit = {r["path"] for r in idx.glob(glob)}
        if not hit:
            return n_tags
        kept = [r for rows in idx.by_depth.values() for r in rows if r[0] not in hit]
        tmp = self.index_dir + "_rewrite"
        shutil.rmtree(tmp, ignore_errors=True)
        publish_part(tmp, pa.table(list(zip(*kept)) or [[]] * 4, schema=INDEX_SCHEMA))
        shutil.rmtree(self.index_dir)
        Path(tmp).rename(self.index_dir)
        return len(hit) + n_tags


def _render_response(rows, fetch_step: int, from_s: int, to_s: int) -> dict:
    """One target's MetricResponse from its collected rows (sorted by
    __ord, path, slot_s, so each series is one run of rows). `step`/`from`
    come from the output grid, so re-bucketing functions describe their
    own spacing."""
    n = rows.num_rows
    paths = rows.column("path")
    cut = pc.not_equal(paths.slice(1), paths.slice(0, max(n - 1, 0)))
    starts = np.concatenate([[0], np.flatnonzero(cut.to_numpy(zero_copy_only=False)) + 1])
    runs: dict[str, list[tuple[int, int]]] = {}
    for name, a, b in zip(paths.take(starts[:n]).to_pylist(), starts, [*starts[1:], n]):
        runs.setdefault(name, []).append((a, b))
    slots = rows.column("slot_s").to_numpy()
    stats = rows.column("stat").to_pylist()
    series, steps, first = {}, {}, {}
    for name, spans in runs.items():
        series[name] = list(chain.from_iterable(stats[a:b] for a, b in spans))
        own = np.concatenate([slots[a:b] for a, b in spans])
        steps[name] = np.diff(own).min().item() if len(own) > 1 else fetch_step
        first[name] = own[0].item()
    out_step = min(steps.values()) if steps else fetch_step
    out_from = (
        min(first.values())
        if first
        else (qmod.normalize_from(from_s, fetch_step) if fetch_step else from_s)
    )
    resp = {"from": out_from, "to": to_s, "step": out_step, "series": series}
    if len(set(steps.values())) > 1:
        resp["steps"] = steps
        resp["starts"] = first
    return resp
