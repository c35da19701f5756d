"""HTTP API facade: the reference's route surface (api/api.go:44-52) served
over an Engine, driven with real HTTP requests."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from cassabon_spark.api import CassabonAPI
from cassabon_spark.config import RollupConfig
from cassabon_spark.engine import Engine

CFG = RollupConfig.from_dict(
    {"default": {"method": "average", "windows": ["10s:1h"]}}
)
BASE = 1_700_000_000 - (1_700_000_000 % 10)


def _get(url):
    with urllib.request.urlopen(url, timeout=60) as r:
        return r.status, json.loads(r.read() or b"null")


def _delete(url):
    req = urllib.request.Request(url, method="DELETE")
    with urllib.request.urlopen(req, timeout=60) as r:
        return r.status, json.loads(r.read() or b"null")


@pytest.fixture(scope="module")
def api(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("http_api")
    eng = Engine(spark, CFG, str(d / "store"), str(d / "idx"))
    lines = [f"svc.api.latency {v} {BASE + i * 10}" for i, v in enumerate([1, 2, 3, 4])]
    lines += [f"svc.api.errors {v} {BASE + i * 10}" for i, v in enumerate([9, 9, 9, 9])]
    eng.ingest_lines(spark.createDataFrame([(l,) for l in lines], "line string"))
    hc = d / "health"
    with CassabonAPI(eng, healthcheck_file=str(hc)) as srv:
        yield srv, hc


def test_root_and_health(api):
    srv, hc = api
    status, body = _get(srv.url + "/")
    assert status == 200 and body["engine"] == "PySpark"
    with urllib.request.urlopen(srv.url + "/healthcheck", timeout=30) as r:
        assert r.read() == b"ALIVE"
    hc.write_text("DEAD")
    with urllib.request.urlopen(srv.url + "/healthcheck", timeout=30) as r:
        assert r.read() == b"DEAD"  # api/api.go:66-82
    hc.unlink()


def test_get_paths_and_metrics(api):
    srv, _ = api
    status, paths = _get(srv.url + "/paths?query=svc.api.*")
    assert status == 200
    assert sorted(p["path"] for p in paths) == ["svc.api.errors", "svc.api.latency"]

    status, resp = _get(
        srv.url
        + f"/metrics?path=svc.api.latency&path=svc.api.errors&from={BASE - 10}&to={BASE + 40}"
    )
    assert status == 200 and resp["step"] == 10
    assert resp["series"]["svc.api.errors"] == [None, 9.0, 9.0, 9.0, 9.0]


def test_render_target_route(api):
    srv, _ = api
    status, resp = _get(
        srv.url
        + f"/render?target=sumSeries(svc.api.*)&from={BASE - 10}&to={BASE + 40}"
    )
    assert status == 200
    assert resp["series"]["sumSeries"] == [None, 10.0, 11.0, 12.0, 13.0]


def test_render_multiple_targets_merge(api):
    srv, _ = api
    status, resp = _get(
        srv.url
        + "/render?target=alias(svc.api.latency,%27lat%27)&target=alias(svc.api.errors,%27err%27)"
        + f"&from={BASE - 10}&to={BASE + 40}"
    )
    assert status == 200
    assert set(resp["series"]) == {"lat", "err"}


def test_delete_metrics_dryrun_default_true(api):
    srv, _ = api
    url = srv.url + f"/metrics?path=svc.api.errors&from={BASE}&to={BASE + 40}"
    status, report = _delete(url)  # no dryrun param -> dry run (api.go:188-191)
    assert status == 200 and any(r["count"] > 0 for r in report)
    # still present
    _, resp = _get(srv.url + f"/metrics?path=svc.api.errors&from={BASE - 10}&to={BASE + 40}")
    assert any(v is not None for v in resp["series"]["svc.api.errors"])
    # dryrun=yes-ish strings stay dry; only false/no disable
    status, _ = _delete(url + "&dryrun=0")
    _, resp = _get(srv.url + f"/metrics?path=svc.api.errors&from={BASE - 10}&to={BASE + 40}")
    assert any(v is not None for v in resp["series"]["svc.api.errors"])
    status, report = _delete(url + "&dryrun=false")
    assert status == 200
    _, resp = _get(srv.url + f"/metrics?path=svc.api.errors&from={BASE - 10}&to={BASE + 40}")
    assert all(v is None for v in resp["series"]["svc.api.errors"])


def test_delete_paths_and_404(api):
    srv, _ = api
    status, n = _delete(srv.url + "/paths?query=svc.api.errors")
    assert status == 200 and n == 1
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(srv.url + "/nope")
    err = json.loads(ei.value.read())
    assert ei.value.code == 404
    assert err["statustext"] == "not found"  # api/api.go:239-255 shape


def test_stats_route_counts_requests(api):
    srv, _ = api
    _get(srv.url + "/paths?query=svc.*")
    status, body = _get(srv.url + "/stats")
    assert status == 200
    routes = body["routes"]
    assert routes["GET /paths"]["count"] >= 1
    assert routes["GET /paths"]["total_ms"] > 0
    # latency distribution from the bounded per-route sample
    p = routes["GET /paths"]
    assert 0 < p["p50_ms"] <= p["p90_ms"] <= p["p99_ms"] <= p["total_ms"]
    # the 404 from the earlier test is tallied as an error
    assert any(v["errors"] >= 1 for v in routes.values())


def test_metrics_find_graphite_format(api):
    srv, _ = api
    status, out = _get(srv.url + "/metrics/find?query=svc.api.*")
    assert status == 200
    by_id = {e["id"]: e for e in out}
    # svc.api.errors' index entry was removed by the DELETE /paths test
    # above (module-scoped engine) — only latency remains findable
    assert set(by_id) == {"svc.api.latency"}
    e = by_id["svc.api.latency"]
    assert e["text"] == "latency" and e["leaf"] == 1 and e["expandable"] == 0
    status, out2 = _get(srv.url + "/metrics/find?query=svc.*")
    inner = {e["id"]: e for e in out2}["svc.api"]
    assert inner["leaf"] == 0 and inner["expandable"] == 1


def test_parse_at_time_forms():
    from cassabon_spark.functions.graphite import TargetSyntaxError, parse_at_time

    import pytest as _pytest

    now = 1_700_000_000
    assert parse_at_time("now", now) == now
    assert parse_at_time("-1h", now) == now - 3600
    assert parse_at_time("-30min", now) == now - 1800
    assert parse_at_time("+2d", now) == now + 2 * 86400
    assert parse_at_time("1699999000", now) == 1699999000
    assert parse_at_time(1699999000, now) == 1699999000
    assert parse_at_time("-120", now) == now - 120
    with _pytest.raises(TargetSyntaxError):
        parse_at_time("wibble", now)


def test_render_relative_until(api):
    srv, _ = api
    # until defaults through graphite's &until= alias; relative forms parse
    status, resp = _get(
        srv.url
        + f"/render?target=sumSeries(svc.api.*)&from={BASE - 10}&until={BASE + 40}"
    )
    assert status == 200
    # only latency is still indexed at this point (see DELETE tests above)
    assert resp["series"]["sumSeries"] == [None, 1.0, 2.0, 3.0, 4.0]


def test_tags_find_series_route(spark, tmp_path):
    from cassabon_spark.api import CassabonAPI
    from cassabon_spark.engine import Engine

    eng = Engine(spark, CFG, str(tmp_path / "ts"), str(tmp_path / "ti"))
    lines = [
        f"disk.used;host=web1 1 {BASE}",
        f"disk.used;host=web2 2 {BASE}",
    ]
    eng.ingest_lines(spark.createDataFrame([(l,) for l in lines], "line string"))
    with CassabonAPI(eng) as srv:
        status, out = _get(
            srv.url + "/tags/findSeries?expr=name%3Ddisk.used&expr=host%3Dweb2"
        )
        assert status == 200 and out == ["disk.used;host=web2"]
        # pure-negative tag query is a 400, not a 500
        status, _err = _get_status_tolerant(
            srv.url + "/tags/findSeries?expr=host!%3Dweb1"
        )
        assert status == 400


def _get_status_tolerant(url):
    try:
        return _get(url)
    except urllib.error.HTTPError as e:
        return e.code, None


def test_tags_autocomplete_routes(spark, tmp_path):
    from cassabon_spark.api import CassabonAPI
    from cassabon_spark.engine import Engine

    eng = Engine(spark, CFG, str(tmp_path / "as"), str(tmp_path / "ai"))
    lines = [
        f"disk.used;host=web1;dc=east 1 {BASE}",
        f"disk.used;host=web2;dc=west 2 {BASE}",
    ]
    eng.ingest_lines(spark.createDataFrame([(l,) for l in lines], "line string"))
    with CassabonAPI(eng) as srv:
        status, tags = _get(srv.url + "/tags")
        assert status == 200 and tags == ["dc", "host", "name"]
        status, vals = _get(srv.url + "/tags/host")
        assert status == 200 and vals == ["web1", "web2"]
        status, none = _get(srv.url + "/tags/nosuch")
        assert status == 200 and none == []


def test_render_post_form_body(spark, tmp_path):
    """graphite-web dashboards POST /render with form-encoded bodies; the
    POST route must match GET semantics."""
    import json
    from urllib.parse import urlencode
    from urllib.request import Request, urlopen

    from cassabon_spark.api import CassabonAPI
    from cassabon_spark.config import RollupConfig
    from cassabon_spark.engine import Engine

    base = 1_700_000_000 - (1_700_000_000 % 10)
    cfg = RollupConfig.from_dict({"default": {"method": "sum", "windows": ["10s:1h"]}})
    eng = Engine(spark, cfg, str(tmp_path / "store"), str(tmp_path / "index"))
    lines = [f"evt.a {i} {base + i * 10}" for i in range(3)]
    eng.ingest_lines(spark.createDataFrame([(l,) for l in lines], "line string"))
    with CassabonAPI(eng) as api:
        body = urlencode(
            [("target", "scale(evt.a, 2)"), ("from", str(base - 10)),
             ("until", str(base + 30))],
        ).encode()
        req = Request(f"{api.url}/render", data=body, method="POST")
        post_out = json.loads(urlopen(req).read())
        get_out = json.loads(
            urlopen(
                f"{api.url}/render?target=scale(evt.a,%202)&from={base - 10}"
                f"&until={base + 30}"
            ).read()
        )
    assert post_out["series"] == get_out["series"]
    assert post_out["series"], post_out
    vals = [v for s in post_out["series"].values() for v in s if v is not None]
    assert vals  # the scaled data actually came through


def test_metrics_expand(api):
    srv, _ = api
    # module fixture ordering: test_delete_paths_and_404 already removed
    # svc.api.errors from the index, so only latency expands here
    status, body = _get(srv.url + "/metrics/expand?query=svc.api.*")
    assert status == 200
    assert body == {"results": ["svc.api.latency"]}
    # non-leaf nodes included by default, excluded with leavesOnly=1
    status, body = _get(srv.url + "/metrics/expand?query=svc.*")
    assert body == {"results": ["svc.api"]}
    status, body = _get(srv.url + "/metrics/expand?query=svc.*&leavesOnly=1")
    assert body == {"results": []}
