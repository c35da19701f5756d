"""HTTP API facade: the reference's full route surface over an Engine.

Reference routes (api/api.go:44-52):
    GET    /            app info                      (rootHandler, api.go:84-97)
    GET    /healthcheck ALIVE/DEAD from a check file  (healthHandler, api.go:66-82)
    GET    /paths       ?query=glob                   (getPathHandler, api.go:100-121)
    DELETE /paths       ?query=glob                   (deletePathHandler, api.go:124-145)
    GET    /metrics     ?path=a&path=b&from=&to=      (getMetricHandler, api.go:148-174)
    DELETE /metrics     ?path=&from=&to=&dryrun=      (deleteMetricHandler, api.go:177-207;
                                                       dryrun defaults TRUE, only
                                                       'false'/'no' disables, 188-191)
    *      anything     404 JSON error                (notFoundHandler, api.go:61-63)
plus one extension route the reference delegates to graphite-web:
    GET    /render      ?target=fn(...)&from=&to=     (Engine.render_target)

Error bodies mirror sendErrorResponse (api.go:239-255):
    {"status": 404, "statustext": "not found", "message": ...}

Architecture: a stdlib ThreadingHTTPServer whose handlers call the Engine
synchronously. The reference's channel hops, load-shedding and reply
timeouts (api.go:209-230) exist because queries cross goroutine/process
boundaries; here a request thread drives a Spark job directly — Spark's
scheduler is the queue, so a full-channel drop policy has nothing to
protect. The server binds port 0 by default (ephemeral) for tests.
"""

from __future__ import annotations

import json
import math
import threading
import time
from collections import deque
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path
from urllib.parse import parse_qs, urlparse

from cassabon_spark.engine import Engine

VERSION = "1.0.0"

_STATS_LOCK = threading.Lock()
#: latencies kept per route for the /stats percentiles (the most recent ones)
LATENCY_SAMPLE = 1024


def _percentiles(sample) -> dict:
    """Nearest-rank p50/p90/p99 of a latency sample, in ms."""
    xs = sorted(sample)
    return {
        f"p{q}_ms": xs[max(math.ceil(q / 100 * len(xs)) - 1, 0)] if xs else None
        for q in (50, 90, 99)
    }


def _make_handler(engine: Engine, healthcheck_file: str | None, stats: dict):
    samples: dict[str, deque] = {}

    class Handler(BaseHTTPRequestHandler):
        # quiet request logging (tests); the reference logs via middleware
        def log_message(self, fmt, *args):  # noqa: D102
            pass

        def _track(self, route: str, t0: float, status: int):
            # the reference's requestLogger middleware emits a statsd timer
            # per request (api/requestlogger.go:44); same shape, in-process
            key = f"{self.command} {route}"
            ms = (time.time() - t0) * 1000
            with _STATS_LOCK:
                s = stats.setdefault(key, {"count": 0, "errors": 0, "total_ms": 0.0})
                s["count"] += 1
                s["total_ms"] = round(s["total_ms"] + ms, 3)
                if status >= 400:
                    s["errors"] += 1
                samples.setdefault(key, deque(maxlen=LATENCY_SAMPLE)).append(round(ms, 3))

        # ------------------------------------------------------- plumbing
        def _json(self, obj, status=200):
            self._last_status = status
            body = json.dumps(obj).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _error(self, status: int, text: str, message: str):
            # shape: api/api.go:239-255
            self._json(
                {"status": status, "statustext": text, "message": message}, status
            )

        def _text(self, s: str, status=200):
            self._last_status = status
            body = s.encode()
            self.send_response(status)
            self.send_header("Content-Type", "text/plain")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _render(self, q: dict) -> None:
            # graphite-web accepts repeated target= params; the merged
            # series dict is kept for compat and per-target entries ride
            # under "targets" (steps may differ). from/until accept
            # graphite relative forms (-1h, now). Shared by GET and POST.
            from cassabon_spark.functions.graphite import parse_at_time

            now = int(time.time())
            targets = q.get("target", [])
            frm = parse_at_time(q.get("from", ["0"])[0], now)
            to = parse_at_time(q.get("until", q.get("to", ["0"]))[0], now)
            md_q = q.get("maxDataPoints", [])
            resp = engine.render_targets(
                targets,
                frm,
                to,
                max_datapoints=int(md_q[0]) if md_q else None,
            )
            fmt = q.get("format", ["json"])[0].lower()
            if fmt in ("", "json"):
                self._json(resp)
                return
            # non-JSON render formats flatten to per-series records with
            # their OWN start/step (re-bucketing functions differ per
            # series) — the same shape graphite-web's formats serialize
            flat = []
            for tr in resp.get("targets", []) or (
                [resp] if resp.get("series") else []
            ):
                for name, vals in tr["series"].items():
                    step = tr.get("steps", {}).get(name, tr["step"])
                    start = tr.get("starts", {}).get(name, tr["from"])
                    end = start + step * len(vals) if step else tr["to"]
                    flat.append(
                        {
                            "name": name,
                            "start": start,
                            "end": end,
                            "step": step,
                            "values": vals,
                        }
                    )
            if fmt == "pickle":
                # graphite-web remote-fetch protocol: pickled list of
                # {name, start, end, step, values}
                import pickle

                body = pickle.dumps(flat, protocol=2)
                self._last_status = 200
                self.send_response(200)
                self.send_header("Content-Type", "application/pickle")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            elif fmt == "raw":
                # 'name,start,end,step|v1,v2,...' — graphite raw format
                lines = [
                    f"{s['name']},{s['start']},{s['end']},{s['step']}|"
                    + ",".join(
                        "None" if v is None else repr(float(v))
                        for v in s["values"]
                    )
                    for s in flat
                ]
                self._text("\n".join(lines) + ("\n" if lines else ""))
            elif fmt == "csv":
                # 'name,YYYY-MM-DD HH:MM:SS,value' per point (UTC)
                from datetime import datetime, timezone

                rows = []
                for s in flat:
                    for i, v in enumerate(s["values"]):
                        ts = datetime.fromtimestamp(
                            s["start"] + i * s["step"], tz=timezone.utc
                        ).strftime("%Y-%m-%d %H:%M:%S")
                        rows.append(
                            f"{s['name']},{ts},"
                            + ("" if v is None else repr(float(v)))
                        )
                self._text("\n".join(rows) + ("\n" if rows else ""))
            else:
                raise ValueError(f"unknown render format {fmt!r}")

        # --------------------------------------------------------- routes
        def do_GET(self):  # noqa: N802
            u = urlparse(self.path)
            q = parse_qs(u.query)
            t0 = time.time()
            self._last_status = 200
            try:
                if u.path == "/":
                    self._json(
                        {
                            "message": "cassabon-spark. You know, for stats!",
                            "engine": "PySpark",
                            "version": VERSION,
                        }
                    )
                elif u.path == "/healthcheck":
                    # api/api.go:66-82: alive unless the file says DEAD
                    alive = True
                    if healthcheck_file:
                        try:
                            txt = Path(healthcheck_file).read_text().strip().upper()
                            alive = txt != "DEAD"
                        except OSError:
                            alive = True
                    self._text("ALIVE" if alive else "DEAD")
                elif u.path == "/paths":
                    glob = q.get("query", [""])[0]
                    self._json(engine.get_paths(glob))
                elif u.path == "/tags/findSeries":
                    # graphite-web tag finder: repeated expr= params,
                    # e.g. /tags/findSeries?expr=name=disk.used&expr=dc=east
                    exprs = q.get("expr", [])
                    self._json(engine.get_tagged_series(*exprs))
                elif u.path == "/tags":
                    self._json(engine.list_tags())
                elif u.path == "/tags/autoComplete/tags":
                    # graphite-web tag autocomplete: ?tagPrefix=&limit=
                    prefix = q.get("tagPrefix", [""])[0]
                    limit = int(q.get("limit", ["100"])[0])
                    self._json(
                        [t for t in engine.list_tags() if t.startswith(prefix)][
                            :limit
                        ]
                    )
                elif u.path == "/tags/autoComplete/values":
                    # graphite-web value autocomplete: ?tag=&valuePrefix=&limit=
                    tag = q.get("tag", [""])[0]
                    if not tag:
                        raise ValueError("autoComplete/values needs a tag")
                    prefix = q.get("valuePrefix", [""])[0]
                    limit = int(q.get("limit", ["100"])[0])
                    self._json(
                        [
                            v
                            for v in engine.list_tag_values(tag)
                            if v.startswith(prefix)
                        ][:limit]
                    )
                elif u.path.startswith("/tags/"):
                    self._json(engine.list_tag_values(u.path[len("/tags/"):]))
                elif u.path == "/metrics/find":
                    # graphite-web finder format: one entry per matched
                    # index node, leaf/expandable flags driving the tree UI
                    glob = q.get("query", [""])[0]
                    self._json(
                        [
                            {
                                "text": p["path"].rsplit(".", 1)[-1],
                                "id": p["path"],
                                "leaf": 1 if p["leaf"] else 0,
                                "expandable": 0 if p["leaf"] else 1,
                                "allowChildren": 0 if p["leaf"] else 1,
                            }
                            for p in engine.get_paths(glob)
                        ]
                    )
                elif u.path == "/metrics/expand":
                    # graphite-web expander: globs -> {"results": [paths]};
                    # leavesOnly=1 restricts to leaf nodes
                    globs = q.get("query", [])
                    leaves_only = q.get("leavesOnly", ["0"])[0] in ("1", "true")
                    results = sorted(
                        {
                            p["path"]
                            for g in globs
                            for p in engine.get_paths(g)
                            if p["leaf"] or not leaves_only
                        }
                    )
                    self._json({"results": results})
                elif u.path == "/metrics":
                    from cassabon_spark.functions.graphite import parse_at_time

                    now = int(time.time())
                    paths = q.get("path", [])
                    frm = parse_at_time(q.get("from", ["0"])[0], now)
                    to = parse_at_time(q.get("to", ["0"])[0], now)
                    self._json(engine.get_metrics(paths, frm, to))
                elif u.path == "/render":
                    self._render(q)
                elif u.path == "/events/get_data":
                    # graphite-web events API: ?from=&until=&tags=a,b (all
                    # listed tags must be on the event); times accept the
                    # same relative forms as /render
                    from cassabon_spark.functions.graphite import parse_at_time

                    now = int(time.time())
                    frm = (
                        parse_at_time(q["from"][0], now) if "from" in q else None
                    )
                    until = (
                        parse_at_time(q["until"][0], now) if "until" in q else None
                    )
                    tags = [
                        t
                        for chunk in q.get("tags", [])
                        for t in chunk.replace(",", " ").split()
                    ]
                    self._json(engine.get_events(frm, until, tags or None))
                elif u.path == "/stats":
                    with _STATS_LOCK:
                        snap = {
                            k: {**v, **_percentiles(samples.get(k, ()))}
                            for k, v in stats.items()
                        }
                    self._json(
                        {
                            "routes": snap,
                            "result_cache": dict(engine.cache_stats),
                            "manifest_pruning": dict(engine.prune_stats),
                        }
                    )
                else:
                    self._error(404, "not found", self.path)
            except ValueError as e:
                self._error(400, "bad request", str(e))
            except Exception as e:  # noqa: BLE001
                self._error(500, "internal error", f"{type(e).__name__}: {e}")
            finally:
                self._track(u.path, t0, self._last_status)

        def do_POST(self):  # noqa: N802
            u = urlparse(self.path)
            q = parse_qs(u.query)
            t0 = time.time()
            self._last_status = 200
            try:
                ln = int(self.headers.get("Content-Length") or 0)
                raw = self.rfile.read(ln).decode("utf-8") if ln else ""
                if u.path == "/events/":
                    # graphite-web events API posts a JSON body
                    # {what, tags?, when?, data?} — not form-encoded
                    try:
                        ev = json.loads(raw or "{}")
                    except json.JSONDecodeError as e:
                        raise ValueError(f"bad JSON body: {e}") from e
                    stored = engine.add_event(
                        what=ev.get("what") or "",
                        tags=ev.get("tags"),
                        when_s=ev.get("when"),
                        data=ev.get("data") or "",
                    )
                    self._json(
                        {
                            "id": stored["id"],
                            "when": stored["when_s"],
                            "what": stored["what"],
                            "tags": stored["tags"],
                            "data": stored["data"],
                        }
                    )
                    return
                # graphite-web posts form-encoded bodies; merge body params
                # with query-string ones (either position works)
                if raw:
                    body = parse_qs(raw)
                    for k, v in body.items():
                        q.setdefault(k, []).extend(v)
                if u.path == "/tags/delSeries":
                    # graphite-web tags API: repeated path= params name the
                    # serialized series ('base;tag=v;...') to forget
                    paths = q.get("path", [])
                    n = engine.delete_tag_series(paths)
                    self._json({"deleted": n})
                elif u.path == "/render":
                    # graphite-web dashboards POST /render with form bodies
                    # (long target lists overflow the query string) — same
                    # semantics as the GET route
                    self._render(q)
                else:
                    self._error(404, "not found", self.path)
            except ValueError as e:
                self._error(400, "bad request", str(e))
            except Exception as e:  # noqa: BLE001
                self._error(500, "internal error", f"{type(e).__name__}: {e}")
            finally:
                self._track(u.path, t0, self._last_status)

        def do_DELETE(self):  # noqa: N802
            u = urlparse(self.path)
            q = parse_qs(u.query)
            t0 = time.time()
            self._last_status = 200
            try:
                if u.path == "/paths":
                    glob = q.get("query", [""])[0]
                    self._json(engine.delete_paths(glob))
                elif u.path == "/metrics":
                    paths = q.get("path", [])
                    frm = int(q.get("from", ["0"])[0])
                    to = int(q.get("to", ["0"])[0])
                    # api/api.go:188-191: default TRUE; only false/no disable
                    dry_text = q.get("dryrun", [""])[0].lower()
                    dryrun = dry_text not in ("false", "no")
                    self._json(engine.delete_metrics(paths, frm, to, dry_run=dryrun))
                else:
                    self._error(404, "not found", self.path)
            except ValueError as e:
                self._error(400, "bad request", str(e))
            except Exception as e:  # noqa: BLE001
                self._error(500, "internal error", f"{type(e).__name__}: {e}")
            finally:
                self._track(u.path, t0, self._last_status)

    return Handler


class CassabonAPI:
    """Serve an Engine over HTTP; `with CassabonAPI(engine) as api:` then
    hit `api.url`. Threaded server — concurrent requests each drive their
    own Spark job (Spark's scheduler arbitrates, FAIR/FIFO per config)."""

    def __init__(
        self,
        engine: Engine,
        host: str = "127.0.0.1",
        port: int = 0,
        healthcheck_file: str | None = None,
    ):
        self.stats: dict = {}
        self._server = ThreadingHTTPServer(
            (host, port), _make_handler(engine, healthcheck_file, self.stats)
        )
        self._thread: threading.Thread | None = None

    @property
    def url(self) -> str:
        h, p = self._server.server_address[:2]
        return f"http://{h}:{p}"

    def start(self) -> "CassabonAPI":
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self):
        self._server.shutdown()
        self._server.server_close()
        if self._thread:
            self._thread.join(timeout=5)

    def __enter__(self):
        return self.start()

    def __exit__(self, *exc):
        self.stop()
