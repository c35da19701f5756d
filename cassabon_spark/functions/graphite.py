"""Graphite /render target-string parser + evaluator.

The reference serves raw series and points a Graphite front-end at itself
(README.md: cassabon is a Carbon daemon; graphite-web renders). graphite-web's
user surface is the *target string* — nested function calls over metric
globs, e.g.

    movingAverage(scale(sumSeries(evt.click, evt.view), 10), 3)
    summarize(nonNegativeDerivative(evt.*), "1h", "sum")

This module parses that grammar and evaluates it against the engine's
gap-filled grid DataFrames using functions.series — so
`Engine.render_target` accepts real Graphite targets. Parsing is
driver-side (strings are tiny); all evaluation stays in DataFrame land.

Grammar (graphite-web render/grammar.py, reimplemented from the public
syntax, not ported):
    target  := call | path
    call    := NAME '(' arg (',' arg)* ')'
    arg     := target | number | quoted-string
    path    := metric glob chars: alnum . _ - * ? [ ] { } % :
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cassabon_spark.functions import series as sfn

# --------------------------------------------------------------------- AST


@dataclass
class Call:
    name: str
    args: list = field(default_factory=list)


@dataclass
class PathGlob:
    glob: str


_NUM_RE = re.compile(r"^-?\d+(\.\d+)?$")
_DUR_RE = re.compile(r'^"?([+-]?\d+)(s|min|m|h|d|w|y)"?$')
_DUR_S = {"s": 1, "m": 60, "min": 60, "h": 3600, "d": 86400, "w": 604800, "y": 31536000}
_PATH_CHARS = re.compile(r"[A-Za-z0-9_.\-*?\[\]{}%:]")


class TargetSyntaxError(ValueError):
    pass


def parse_target(text: str):
    """Parse a Graphite target string into Call/PathGlob/number/str nodes."""
    pos = 0
    n = len(text)

    def skip_ws():
        nonlocal pos
        while pos < n and text[pos].isspace():
            pos += 1

    def parse_expr():
        nonlocal pos
        skip_ws()
        if pos >= n:
            raise TargetSyntaxError(f"unexpected end of target at {pos}: {text!r}")
        c = text[pos]
        if c in "'\"":
            quote = c
            end = text.find(quote, pos + 1)
            if end < 0:
                raise TargetSyntaxError(f"unterminated string at {pos}: {text!r}")
            s = text[pos + 1 : end]
            pos = end + 1
            return s
        # read a bare word: path chars (covers numbers too)
        start = pos
        while pos < n and _PATH_CHARS.match(text[pos]):
            pos += 1
        word = text[start:pos]
        if not word:
            raise TargetSyntaxError(f"unexpected char {c!r} at {pos}: {text!r}")
        skip_ws()
        if pos < n and text[pos] == "(":
            pos += 1  # consume '('
            args = []
            skip_ws()
            if pos < n and text[pos] == ")":
                pos += 1
            else:
                while True:
                    args.append(parse_expr())
                    skip_ws()
                    if pos < n and text[pos] == ",":
                        pos += 1
                        continue
                    if pos < n and text[pos] == ")":
                        pos += 1
                        break
                    raise TargetSyntaxError(
                        f"expected ',' or ')' at {pos} in {text!r}"
                    )
            return Call(word, args)
        if _NUM_RE.match(word):
            return float(word) if "." in word else int(word)
        return PathGlob(word)

    node = parse_expr()
    skip_ws()
    if pos != n:
        raise TargetSyntaxError(f"trailing input at {pos}: {text!r}")
    return node


# ---------------------------------------------------------------- evaluator

def _dur_s(v) -> int:
    """'1h' / '30m' / 90 -> seconds (graphite interval strings)."""
    if isinstance(v, (int, float)):
        return int(v)
    m = _DUR_RE.match(v)
    if not m:
        raise TargetSyntaxError(f"unparseable interval {v!r}")
    return int(m.group(1)) * _DUR_S[m.group(2)]


def parse_at_time(v, now_s: int) -> int:
    """graphite-web from/until values: epoch ints, 'now', or relative
    offsets like '-1h' / '-30min' (render/attime.py's common subset).
    Unsigned bare ints pass through as epochs."""
    if isinstance(v, (int, float)):
        return int(v)
    s = str(v).strip().strip("\"'")
    if s == "now" or s == "":
        return int(now_s)
    if s.lstrip("+-").isdigit():
        n = int(s)
        # graphite treats small negative numbers as relative-to-now seconds
        return int(now_s) + n if s.startswith(("+", "-")) else n
    m = _DUR_RE.match(s)
    if m:
        sec = int(m.group(1)) * _DUR_S[m.group(2)]
        return int(now_s) + sec
    raise TargetSyntaxError(f"unparseable time {v!r}")


def _shift_s(v) -> int:
    """timeShift/timeStack offset in seconds with graphite's sign rule: an
    UNSIGNED interval implies minus ('1d' means one day BACK; '+1d' means
    forward). graphite-web render/functions timeShift: 'If no sign is
    given, a minus sign  ( - ) is implied'."""
    if isinstance(v, (int, float)):
        return -abs(int(v)) if v >= 0 else int(v)
    s = str(v).strip("\"'").strip()
    signed = s.startswith(("+", "-"))
    sec = _dur_s(s)
    return sec if signed else -sec


def _how(v, default: str) -> str:
    s = str(v).strip("\"'").lower() if v is not None else default
    return {"average": "avg", "avg": "avg", "sum": "sum", "min": "min",
            "max": "max", "last": "last", "count": "count",
            "stddev": "stddev"}.get(s, s)


# spec: graphite name -> callable(evaluated_series_grid, *raw_args) -> grid.
# Series-combining names that accept MULTIPLE seriesList args get the UNION
# of their grids (graphite semantics: the function sees all matched series).
_SPECS: dict[str, Callable] = {
    "derivative": lambda g: sfn.derivative(g),
    "nonNegativeDerivative": lambda g, maxValue=None: (
        sfn.non_negative_derivative(g)
        if maxValue is None
        else sfn.non_negative_derivative_max(g, float(maxValue))
    ),
    "perSecond": lambda g, maxValue=None: (
        sfn.per_second(g)
        if maxValue is None
        else sfn.per_second_max(g, float(maxValue))
    ),
    "integral": lambda g: sfn.integral(g),
    "movingAverage": lambda g, w: sfn.moving_average(g, int(w)),
    "movingMax": lambda g, w: sfn.moving_max(g, int(w)),
    "movingMin": lambda g, w: sfn.moving_min(g, int(w)),
    "movingSum": lambda g, w: sfn.moving_sum(g, int(w)),
    "movingMedian": lambda g, w: sfn.moving_median(g, int(w)),
    "stdev": lambda g, w: sfn.stdev(g, int(w)),
    "scale": lambda g, k: sfn.scale(g, float(k)),
    "offset": lambda g, k: sfn.offset(g, float(k)),
    "absolute": lambda g: sfn.absolute(g),
    "invert": lambda g: sfn.invert(g),
    "logarithm": lambda g, base=10: sfn.logarithm(g, float(base)),
    "log": lambda g, base=10: sfn.logarithm(g, float(base)),
    "pow": lambda g, e: sfn.power(g, float(e)),
    "squareRoot": lambda g: sfn.square_root(g),
    # timeShift / timeStack are special-cased in evaluate_target: they must
    # extend the FETCH window (read [from+delta, to+delta], delta<0 for the
    # implied-minus graphite convention) and relabel into [from, to].
    "delay": lambda g, steps: sfn.delay(g, int(steps)),
    "transformNull": lambda g, v=0: sfn.transform_null(g, float(v)),
    "removeAboveValue": lambda g, v: sfn.remove_above_value(g, float(v)),
    "removeBelowValue": lambda g, v: sfn.remove_below_value(g, float(v)),
    "interpolate": lambda g: sfn.interpolate(g),
    "offsetToZero": lambda g: sfn.offset_to_zero(g),
    "changed": lambda g: sfn.changed(g),
    "integralByInterval": lambda g, b: sfn.integral_by_interval(g, _dur_s(b)),
    "removeAbovePercentile": lambda g, p: sfn.remove_above_percentile(g, float(p)),
    "removeBelowPercentile": lambda g, p: sfn.remove_below_percentile(g, float(p)),
    "removeBetweenPercentile": lambda g, p: sfn.remove_between_percentile(g, float(p)),
    "averageOutsidePercentile": lambda g, p: sfn.average_outside_percentile(g, float(p)),
    "minimumAbove": lambda g, n: sfn.minimum_above(g, float(n)),
    "maximumBelow": lambda g, n: sfn.maximum_below(g, float(n)),
    "keepLastValue": lambda g, limit=None: sfn.keep_last_value(
        g, None if limit is None else int(limit)
    ),
    "summarize": lambda g, b, how="sum": sfn.summarize(g, _dur_s(b), _how(how, "sum")),
    # smartSummarize is special-cased in evaluate_target: its buckets align
    # to the render context's from_s (ctx is invisible to this table).
    "hitcount": lambda g, b: sfn.hitcount(g, _dur_s(b)),
    "highestAverage": lambda g, k: sfn.top_series(g, int(k), "avg"),
    "highestMax": lambda g, k: sfn.top_series(g, int(k), "max"),
    "lowestAverage": lambda g, k: sfn.bottom_series(g, int(k), "avg"),
    "lowestMax": lambda g, k: sfn.bottom_series(g, int(k), "max"),
    "alias": lambda g, name: sfn.alias_series(g, str(name)),
    "aliasByNode": lambda g, *nodes: sfn.alias_by_node(g, *[int(x) for x in nodes]),
    "exclude": lambda g, pat: sfn.exclude(g, str(pat)),
    "grep": lambda g, pat: sfn.grep(g, str(pat)),
    "groupByNode": lambda g, node, how="sum": sfn.group_by_node(
        g, int(node), _how(how, "sum")
    ),
    "sumSeries": lambda g: sfn.sum_series(g),
    "averageSeries": lambda g: sfn.average_series(g),
    "avg": lambda g: sfn.average_series(g),
    "maxSeries": lambda g: sfn.max_series(g),
    "minSeries": lambda g: sfn.min_series(g),
    "countSeries": lambda g: sfn.count_series(g),
    "stddevSeries": lambda g: sfn.stddev_series(g),
    "rangeOfSeries": lambda g: sfn.range_series(g),
    "percentileOfSeries": lambda g, p: sfn.percentile_of_series(g, float(p)),
    "linearRegression": lambda g: sfn.linear_regression(g),
    "group": lambda g: g,  # union of the seriesList args (done by the evaluator)
    "nPercentile": lambda g, p: sfn.n_percentile(g, float(p)),
    "aggregateLine": lambda g, how="avg": sfn.aggregate_line(g, _how(how, "avg")),
    "mostDeviant": lambda g, k: sfn.most_deviant(g, int(k)),
    "limit": lambda g, n: sfn.limit_series(g, int(n)),
    "asPercent": lambda g, total=None: sfn.as_percent(
        g, None if total is None else float(total)
    ),
    "averageAbove": lambda g, n: sfn.average_above(g, float(n)),
    "averageBelow": lambda g, n: sfn.average_below(g, float(n)),
    "currentAbove": lambda g, n: sfn.current_above(g, float(n)),
    "currentBelow": lambda g, n: sfn.current_below(g, float(n)),
    "holtWintersForecast": lambda g, season=24: sfn.holt_winters_forecast(
        g, int(season)
    ),
    "holtWintersAberration": lambda g, season=24, delta=3: sfn.holt_winters_aberration(
        g, int(season), float(delta)
    ),
    "multiplySeries": lambda g: sfn.multiply_series(g),
    "medianSeries": lambda g: sfn.median_series(g),
    "isNonNull": lambda g: sfn.is_non_null(g),
    "scaleToSeconds": lambda g, s: sfn.scale_to_seconds(g, _dur_s(s)),
    "aliasSub": lambda g, pat, repl: sfn.alias_sub(g, str(pat), str(repl)),
    "aliasByMetric": lambda g: sfn.alias_by_metric(g),
    "substr": lambda g, start=0, stop=0: sfn.substr_names(g, int(start), int(stop)),
    "maximumAbove": lambda g, n: sfn.maximum_above(g, float(n)),
    "minimumBelow": lambda g, n: sfn.minimum_below(g, float(n)),
    "highestCurrent": lambda g, k: sfn.top_series(g, int(k), "current"),
    "lowestCurrent": lambda g, k: sfn.bottom_series(g, int(k), "current"),
    "sortByTotal": lambda g: sfn.sort_by(g, "total", reverse=True),
    "sortByMaxima": lambda g: sfn.sort_by(g, "max", reverse=True),
    "sortByMinima": lambda g: sfn.sort_by(g, "min", reverse=False),
    "sortBy": lambda g, how="avg", reverse=0: sfn.sort_by(
        g, _how(how, "avg"), bool(int(reverse))
    ),
    "sortByName": lambda g, natural=0: sfn.sort_by_name(g, bool(int(natural))),
    # consolidateBy is an identity marker: the consolidation method applies
    # at the render boundary (maxDataPoints coarsening) — engine reads it
    # out of the AST via target_consolidation() before fetching.
    "consolidateBy": lambda g, how="avg": g,
    # ------------------------------------------------------------ batch 2
    "groupByNodes": lambda g, how, *nodes: sfn.group_by_nodes(
        g, _how(how, "sum"), *[int(n) for n in nodes]
    ),
    "sumSeriesWithWildcards": lambda g, *pos: sfn.combine_with_wildcards(
        g, "sum", *[int(p) for p in pos]
    ),
    "averageSeriesWithWildcards": lambda g, *pos: sfn.combine_with_wildcards(
        g, "avg", *[int(p) for p in pos]
    ),
    "multiplySeriesWithWildcards": lambda g, *pos: sfn.combine_with_wildcards(
        g, "multiply", *[int(p) for p in pos]
    ),
    "aggregate": lambda g, how="avg": sfn.aggregate_series(g, _how(how, "avg")),
    "filterSeries": lambda g, how, op, t: sfn.filter_series(
        g, _how(how, "avg"), str(op).strip("\"'"), float(t)
    ),
    "highest": lambda g, n=1, how="avg": sfn.top_series(g, int(n), _how(how, "avg")),
    "lowest": lambda g, n=1, how="avg": sfn.bottom_series(g, int(n), _how(how, "avg")),
    "exponentialMovingAverage": lambda g, n: sfn.exponential_moving_average(g, int(n)),
    "minMax": lambda g: sfn.min_max(g),
    "sigmoid": lambda g: sfn.sigmoid_series(g),
    "logit": lambda g: sfn.logit_series(g),
    "round": lambda g, p=0: sfn.round_series(g, int(p)),
    "timeSlice": lambda g, s, e: sfn.time_slice(g, _dur_s(s), _dur_s(e)),
    "unique": lambda g: sfn.unique_series(g),
    "holtWintersConfidenceBands": lambda g, season=24, delta=3: (
        sfn.holt_winters_bands_series(g, int(season), float(delta))
    ),
    # presentation-only graphite functions: rendering attributes have no
    # data semantics here — accept-and-pass-through so real dashboard
    # targets evaluate (graphite applies them at draw time)
    "removeEmptySeries": lambda g: sfn.remove_empty_series(g),
    # ------------------------------------------------------------ batch 3
    "add": lambda g, c: sfn.offset(g, float(c)),
    "movingWindow": lambda g, n, how="avg": sfn.moving_window(
        g, int(n), _how(how, "avg")
    ),
    "aggregateWithWildcards": lambda g, how, *pos: sfn.combine_with_wildcards(
        g, _how(how, "sum"), *[int(p) for p in pos]
    ),
    "groupByTags": lambda g, how, *tags: sfn.group_by_tags(
        g, _how(how, "sum"), *[str(t) for t in tags]
    ),
    "holtWintersConfidenceArea": lambda g, season=24, delta=3: (
        # area fill is a draw-time attribute; the DATA is the bands pair
        sfn.holt_winters_bands_series(g, int(season), float(delta))
    ),
    "alpha": lambda g, a=1: g,
    "areaBetween": lambda g: g,
    "setXFilesFactor": lambda g, x=0: g,
    "xFilesFactor": lambda g, x=0: g,
    "secondYAxis": lambda g: g,
    "lineWidth": lambda g, w=1: g,
    "dashed": lambda g, n=5: g,
    "color": lambda g, c="": g,
    "stacked": lambda g, name="": g,
    "drawAsInfinite": lambda g: g,
    "legendValue": lambda g, *a: g,
    "verticalLine": lambda g, *a: g,
    "cactiStyle": lambda g, *a: g,
    # ------------------------------------------------------------ batch 4
    "powSeries": lambda g: sfn.pow_series(g),
    "mapSeries": lambda g, *nodes: sfn.map_series(g, *[int(n) for n in nodes]),
    "map": lambda g, *nodes: sfn.map_series(g, *[int(n) for n in nodes]),
    "reduceSeries": lambda g, fn, node, *matchers: sfn.reduce_series(
        g,
        str(fn).strip("\"'"),
        int(node),
        *[str(m).strip("\"'") for m in matchers],
    ),
    "reduce": lambda g, fn, node, *matchers: sfn.reduce_series(
        g,
        str(fn).strip("\"'"),
        int(node),
        *[str(m).strip("\"'") for m in matchers],
    ),
    "pieAverage": lambda g: sfn.pie_value(g, "avg"),
    "pieMaximum": lambda g: sfn.pie_value(g, "max"),
    "pieMinimum": lambda g: sfn.pie_value(g, "min"),
}

#: moving-window functions whose window may be a graphite interval STRING
#: ('10min'); the evaluator converts to slots with the context step.
_INTERVAL_WINDOW_FNS = {
    "movingAverage", "movingMax", "movingMin", "movingSum", "movingMedian",
    "stdev", "movingWindow",
}

#: series-free generators — evaluated from the render context, no fetch.
_GENERATOR_FNS = {
    "constantLine", "threshold", "timeFunction", "identity", "sinFunction",
    "time", "randomWalk", "sin", "randomWalkFunction",
}

# diffSeries is special-cased: base path must be concrete (first arg).


def evaluate_target(
    node,
    grid_for_glob: Callable[..., DataFrame],
    context: dict | None = None,
) -> DataFrame:
    """Evaluate a parsed target against a grid-producing glob resolver.

    `grid_for_glob(glob)` — or `grid_for_glob(glob, offset_s)` when the
    resolver supports shifted fetch windows — returns the (path, slot_s,
    stat) grid for one metric glob via the engine's A10-A16 read path.
    Series args union; scalar args pass through raw.

    timeShift/timeStack thread `offset_s` down to the resolver so shifted
    expressions FETCH [from+delta, to+delta] (delta<0 for graphite's
    implied-minus convention) and relabel slots back into [from, to] —
    without this the shifted window would be empty at the head and spill
    past `to` (graphite-web timeShift semantics).

    `context` (all optional) powers series-free generators and
    interval-string windows: {spark, from_s, to_s, step, now_s}.
    """
    import inspect

    ctx = context or {}

    def _arity(fn) -> tuple[bool, bool]:
        """(takes_offset, takes_consolidate) from the resolver signature."""
        try:
            params = inspect.signature(fn).parameters
        except (TypeError, ValueError):
            return True, True
        var = any(
            p.kind == inspect.Parameter.VAR_POSITIONAL for p in params.values()
        )
        return (len(params) >= 2 or var, len(params) >= 3 or var)

    _takes_offset, _takes_cons = _arity(grid_for_glob)

    # consolidateBy scope stack (ADVICE r2 #5): the method applies only to
    # fetches BENEATH the consolidateBy node — evaluation is synchronous
    # recursive plan-building, so a dynamic stack pushed/popped around the
    # subtree scopes it exactly (nearest enclosing call wins, graphite
    # semantics); sibling globs keep their route default.
    cons_stack: list[str] = []

    def fetch(glob: str, offset: int) -> DataFrame:
        cons = cons_stack[-1] if cons_stack else None
        if _takes_offset and _takes_cons:
            return grid_for_glob(glob, offset, cons)
        if _takes_offset:
            return grid_for_glob(glob, offset)
        # a single-arg resolver declares itself window-less (returns ALL
        # data regardless of [from, to]) — shifted fetches are then the
        # same frame, and the relabel still lands the right rows
        return grid_for_glob(glob)

    def ctx_step(fn: str) -> int:
        step = ctx.get("step")
        if not step:
            raise TargetSyntaxError(
                f"{fn}() with an interval-string window needs the render "
                "step in the evaluation context"
            )
        return int(step)

    def generate(nd: Call) -> DataFrame:
        """constantLine / threshold / timeFunction — no fetch, built from
        the render context as a one-partition range (never a driver loop),
        like the fetched grids."""
        spark = ctx.get("spark")
        from_s, to_s = ctx.get("from_s"), ctx.get("to_s")
        step = ctx.get("step") or 60
        if spark is None or from_s is None or to_s is None:
            raise TargetSyntaxError(
                f"{nd.name}() needs a render context (spark, from_s, to_s)"
            )
        base = spark.range(int(from_s), int(to_s) + 1, int(step), 1).select(
            F.col("id").alias("slot_s")
        )
        if nd.name in ("constantLine", "threshold"):
            if not nd.args:
                raise TargetSyntaxError(f"{nd.name}() needs a value")
            value = float(nd.args[0])
            label = (
                str(nd.args[1])
                if nd.name == "threshold" and len(nd.args) > 1
                else f"constantLine({nd.args[0]})"
            )
            return base.select(
                F.lit(label).alias("path"), "slot_s", F.lit(value).alias("stat")
            )
        if nd.name in ("sinFunction", "sin"):
            label = str(nd.args[0]) if nd.args else "sinFunction"
            amplitude = float(nd.args[1]) if len(nd.args) > 1 else 1.0
            return base.select(
                F.lit(label).alias("path"),
                "slot_s",
                (F.sin(F.col("slot_s").cast("double")) * amplitude).alias("stat"),
            )
        if nd.name in ("randomWalk", "randomWalkFunction"):
            # graphite's debug generator uses random(); this one derives
            # steps in [-0.5, 0.5) from md5(slot) so replays/checkpoints see
            # identical data (the engine-wide determinism rule), then
            # cumulative-sums them into the walk. Window is the render grid
            # — slot-bounded by construction.
            label = str(nd.args[0]) if nd.args else "randomWalk"
            step_v = (
                F.conv(F.substring(F.md5(F.col("slot_s").cast("string")), 1, 8), 16, 10)
                .cast("double")
                / F.lit(float(1 << 32))
                - 0.5
            )
            walk = F.sum(step_v).over(
                Window.orderBy("slot_s").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            )
            return base.select(
                F.lit(label).alias("path"), "slot_s", walk.alias("stat")
            )
        # timeFunction("name") / time("name") / identity("name"):
        # value == slot timestamp
        label = str(nd.args[0]) if nd.args else nd.name
        return base.select(
            F.lit(label).alias("path"),
            "slot_s",
            F.col("slot_s").cast("double").alias("stat"),
        )

    def apply_by_node(nd: Call, offset: int) -> DataFrame:
        """applyByNode(seriesList, nodeNum, 'template(%...)'): group series
        by their first nodeNum+1 path segments and evaluate the template
        once per group with % -> the group prefix. The prefix list is
        series-name sized (driver-side by nature of the render boundary)."""
        if len(nd.args) < 3 or not isinstance(nd.args[0], (Call, PathGlob)):
            raise TargetSyntaxError(
                "applyByNode needs (seriesList, nodeNum, templateFunction)"
            )
        node_num = int(nd.args[1])
        template = str(nd.args[2])
        seed = ev(nd.args[0], offset)
        prefixes = [
            r["p"]
            for r in seed.select(
                F.array_join(
                    F.slice(F.split("path", r"\."), 1, node_num + 1), "."
                ).alias("p")
            )
            .distinct()
            .orderBy("p")
            .limit(201)
            .collect()
        ]
        if len(prefixes) > 200:
            raise TargetSyntaxError(
                "applyByNode expanded to >200 groups; narrow the seriesList"
            )
        if not prefixes:
            return seed
        outs = [
            ev(parse_target(template.replace("%", p)), offset) for p in prefixes
        ]
        return sfn.union_grids(outs)

    def ev(nd, offset: int = 0) -> DataFrame:
        if isinstance(nd, PathGlob):
            return fetch(nd.glob, offset)
        if not isinstance(nd, Call):
            raise TargetSyntaxError(f"a scalar {nd!r} is not a series expression")
        if nd.name == "timeShift":
            if len(nd.args) < 2:
                raise TargetSyntaxError("timeShift needs (seriesList, interval)")
            delta = _shift_s(nd.args[1])
            inner = ev(nd.args[0], offset + delta)
            return sfn.time_shift(inner, -delta)
        if nd.name == "timeStack":
            if not nd.args:
                raise TargetSyntaxError("timeStack needs a seriesList")
            unit = _shift_s(nd.args[1]) if len(nd.args) > 1 else -86400
            start = int(nd.args[2]) if len(nd.args) > 2 else 0
            end = int(nd.args[3]) if len(nd.args) > 3 else 7
            copies = []
            for i in range(start, end):
                delta = unit * i
                c = sfn.time_shift(ev(nd.args[0], offset + delta), -delta)
                copies.append(
                    c.withColumn(
                        "path", F.concat(F.col("path"), F.lit(f"_shift_{i}"))
                    )
                )
            if not copies:
                raise TargetSyntaxError("timeStack range is empty")
            return sfn.union_grids(copies)
        if nd.name == "cumulative":
            # graphite: alias for consolidateBy(seriesList, 'sum') — ride
            # the same scope stack
            if len(nd.args) != 1:
                raise TargetSyntaxError("cumulative needs (seriesList)")
            cons_stack.append("sum")
            try:
                return ev(nd.args[0], offset)
            finally:
                cons_stack.pop()
        if nd.name == "aggregateSeriesLists":
            series_args = [a for a in nd.args if isinstance(a, (Call, PathGlob))]
            scalars = [a for a in nd.args if not isinstance(a, (Call, PathGlob))]
            if len(series_args) != 2 or not scalars:
                raise TargetSyntaxError(
                    "aggregateSeriesLists needs (seriesListFirstPos, "
                    "seriesListSecondPos, func)"
                )
            try:
                return sfn.aggregate_series_lists(
                    ev(series_args[0], offset),
                    ev(series_args[1], offset),
                    _how(scalars[0], "sum"),
                )
            except TargetSyntaxError:
                raise
            except ValueError as e:
                raise TargetSyntaxError(f"aggregateSeriesLists: {e}") from e
        if nd.name == "consolidateBy":
            series_args = [a for a in nd.args if isinstance(a, (Call, PathGlob))]
            if len(series_args) != 1:
                raise TargetSyntaxError(
                    "consolidateBy needs (seriesList, consolidationFunc)"
                )
            method = "avg"
            for a in nd.args:
                if not isinstance(a, (Call, PathGlob)):
                    method = _how(a, "avg")
            cons_stack.append(method)
            try:
                return ev(series_args[0], offset)
            finally:
                cons_stack.pop()
        if nd.name == "smartSummarize":
            # special-cased like timeShift (ADVICE r2 #2): graphite aligns
            # buckets to the query 'from' (no partial leading bucket), so
            # the render context's from_s must reach origin_s — the _SPECS
            # table can't see ctx. Inside a timeShift the grid still lives
            # in the SHIFTED timeline (relabel happens above), so the
            # origin shifts with the fetch offset.
            if len(nd.args) < 2:
                raise TargetSyntaxError(
                    "smartSummarize needs (seriesList, intervalString)"
                )
            how = _how(str(nd.args[2]), "sum") if len(nd.args) > 2 else "sum"
            origin = int(ctx.get("from_s") or 0) + offset
            return sfn.smart_summarize(
                ev(nd.args[0], offset), _dur_s(nd.args[1]), how, origin_s=origin
            )
        if nd.name in _GENERATOR_FNS:
            return generate(nd)
        if nd.name == "seriesByTag":
            # tag-expression fetch: resolve 'tag=value' exprs through the
            # engine's tag index, then ride the normal (offset-aware) read
            # path with the explicit series list
            resolver = ctx.get("series_by_tag")
            gfs = ctx.get("grid_for_series")
            if resolver is None or gfs is None:
                raise TargetSyntaxError(
                    "seriesByTag needs an engine context with a tag index"
                )
            exprs = [str(a) for a in nd.args]
            if not exprs:
                raise TargetSyntaxError("seriesByTag needs tag expressions")
            try:
                series = resolver(*exprs)
            except ValueError as e:
                raise TargetSyntaxError(f"seriesByTag: {e}") from e
            gfs_off, gfs_cons = _arity(gfs)
            if gfs_off and gfs_cons:
                return gfs(
                    list(series), offset, cons_stack[-1] if cons_stack else None
                )
            if gfs_off:
                return gfs(list(series), offset)
            return gfs(list(series))
        if nd.name == "aliasByTags":
            from cassabon_spark.operators.tags import alias_by_tags

            series_args = [a for a in nd.args if isinstance(a, (Call, PathGlob))]
            tag_args = [
                str(a) for a in nd.args if not isinstance(a, (Call, PathGlob))
            ]
            if len(series_args) != 1:
                raise TargetSyntaxError("aliasByTags needs (seriesList, *tags)")
            return alias_by_tags(ev(series_args[0], offset), *tag_args)
        if nd.name == "events":
            # graphite-web events(*tags): per-bucket count of matching
            # annotations from the engine's events store; offset-aware so
            # timeShift(events(...)) fetches the shifted window
            eg = ctx.get("events_grid")
            if eg is None:
                raise TargetSyntaxError(
                    "events() needs an engine context with an events store"
                )
            tags = [str(a).strip("\"'") for a in nd.args]
            return eg(tags, offset)
        if nd.name == "applyByNode":
            return apply_by_node(nd, offset)
        if nd.name == "aliasQuery":
            # aliasQuery(seriesList, search, replace, newName): per series,
            # regex-sub the name into a NEW target, evaluate it, and format
            # its last value into newName (graphite-web evaluates one
            # sub-query per series; the series list is render-sized and the
            # same 200-group bound as applyByNode applies).
            import re as _re

            if len(nd.args) < 4 or not isinstance(nd.args[0], (Call, PathGlob)):
                raise TargetSyntaxError(
                    "aliasQuery needs (seriesList, search, replace, newName)"
                )
            search = str(nd.args[1]).strip("\"'")
            replace = _re.sub(r"\\(\d)", r"\\\1", str(nd.args[2]).strip("\"'"))
            new_name = str(nd.args[3]).strip("\"'")
            seed = ev(nd.args[0], offset)
            names = [
                r["path"]
                for r in seed.select("path").distinct().orderBy("path").limit(201).collect()
            ]
            if len(names) > 200:
                raise TargetSyntaxError(
                    "aliasQuery expanded to >200 series; narrow the seriesList"
                )
            out = seed
            for name in names:
                q = _re.sub(search, replace, name)
                sub = ev(parse_target(q), offset)
                row = (
                    sub.filter(F.col("stat").isNotNull())
                    .orderBy(F.asc("path"), F.desc("slot_s"))
                    .select("stat")
                    .first()
                )
                if row is None:
                    raise TargetSyntaxError(
                        f"aliasQuery: no value found for query {q!r}"
                    )
                try:
                    label = new_name % row["stat"]
                except TypeError as e:
                    raise TargetSyntaxError(f"aliasQuery: bad newName format: {e}") from e
                out = out.withColumn(
                    "path",
                    F.when(F.col("path") == name, F.lit(label)).otherwise(
                        F.col("path")
                    ),
                )
            return out
        if nd.name == "weightedAverage":
            series_args = [a for a in nd.args if isinstance(a, (Call, PathGlob))]
            node_args = [a for a in nd.args if isinstance(a, (int, float))]
            if len(series_args) != 2 or not node_args:
                raise TargetSyntaxError(
                    "weightedAverage needs (seriesListAvg, seriesListWeight, *nodes)"
                )
            return sfn.weighted_average(
                ev(series_args[0], offset),
                ev(series_args[1], offset),
                *[int(n) for n in node_args],
            )
        if nd.name == "fallbackSeries":
            if len(nd.args) != 2:
                raise TargetSyntaxError(
                    "fallbackSeries needs (seriesList, fallbackSeriesList)"
                )
            primary = ev(nd.args[0], offset)
            # driver-side emptiness probe: render-sized frame, one cheap job
            return primary if not primary.isEmpty() else ev(nd.args[1], offset)
        if nd.name == "useSeriesAbove":
            # useSeriesAbove(seriesList, value, search, replace): for series
            # whose MAX exceeds value, fetch the search->replace-substituted
            # path instead (graphite's 'look at the related metric when this
            # one is hot' pattern)
            if len(nd.args) < 4:
                raise TargetSyntaxError(
                    "useSeriesAbove needs (seriesList, value, search, replace)"
                )
            seed = ev(nd.args[0], offset)
            value = float(nd.args[1])
            search, replace = str(nd.args[2]), str(nd.args[3])
            hot = [
                r["path"]
                for r in seed.groupBy("path")
                .agg(F.max("stat").alias("__m"))
                .filter(F.col("__m") > value)
                .select("path")
                .orderBy("path")
                .limit(201)
                .collect()
            ]
            if len(hot) > 200:
                raise TargetSyntaxError(
                    "useSeriesAbove matched >200 series; narrow the seriesList"
                )
            if not hot:
                return seed.limit(0)
            outs = [
                fetch(p.replace(search, replace), offset) for p in hot
            ]
            return sfn.union_grids(outs)
        if nd.name == "divideSeriesLists":
            series_args = [a for a in nd.args if isinstance(a, (Call, PathGlob))]
            if len(series_args) != 2:
                raise TargetSyntaxError(
                    "divideSeriesLists needs (dividendSeriesList, divisorSeriesList)"
                )
            try:
                return sfn.divide_series_lists(
                    ev(series_args[0], offset), ev(series_args[1], offset)
                )
            except TargetSyntaxError:
                raise
            except ValueError as e:  # length mismatch -> target error/400
                raise TargetSyntaxError(f"divideSeriesLists: {e}") from e
        if nd.name == "divideSeries":
            if len(nd.args) != 2 or not isinstance(nd.args[1], PathGlob):
                raise TargetSyntaxError(
                    "divideSeries needs (dividendSeries, divisorPath) with a "
                    "concrete divisor path"
                )
            divisor = nd.args[1].glob
            if any(ch in divisor for ch in "*?[{"):
                raise TargetSyntaxError("divideSeries divisor must not be a glob")
            u = sfn.union_grids([ev(nd.args[0], offset), ev(nd.args[1], offset)])
            return sfn.divide_series(u, divisor)
        if nd.name == "diffSeries":
            if not nd.args or not isinstance(nd.args[0], PathGlob):
                raise TargetSyntaxError(
                    "diffSeries needs a concrete base path as its first argument"
                )
            base = nd.args[0].glob
            if any(ch in base for ch in "*?[{"):
                raise TargetSyntaxError("diffSeries base must not be a glob")
            grids = [ev(a, offset) for a in nd.args]
            return sfn.diff_series(sfn.union_grids(grids), base)
        spec = _SPECS.get(nd.name)
        if spec is None:
            raise TargetSyntaxError(f"unknown function {nd.name!r}")
        series_grids = []
        scalars = []
        for a in nd.args:
            if isinstance(a, (Call, PathGlob)):
                series_grids.append(ev(a, offset))
            else:
                scalars.append(a)
        if not series_grids:
            raise TargetSyntaxError(f"{nd.name}() needs a series argument")
        if (
            nd.name in _INTERVAL_WINDOW_FNS
            and scalars
            and isinstance(scalars[0], str)
        ):
            scalars = [max(1, _dur_s(scalars[0]) // ctx_step(nd.name))] + list(
                scalars[1:]
            )
        try:
            return spec(sfn.union_grids(series_grids), *scalars)
        except (ValueError, KeyError) as e:
            # bad method name / bad scalar — surface as a target error, not
            # a 500 (ADVICE: summarize(x,'1h','bogus') must not KeyError)
            raise TargetSyntaxError(f"{nd.name}(): {e}") from e

    return ev(node, 0)


def target_consolidation(node) -> str | None:
    """The consolidateBy() method named anywhere in the target, if any —
    read before fetching so maxDataPoints coarsening re-buckets with the
    user's chosen function (graphite consolidateBy semantics)."""
    if isinstance(node, Call):
        if node.name == "consolidateBy":
            for a in node.args:
                if not isinstance(a, (Call, PathGlob)):
                    return _how(a, "avg")
            return "avg"
        for a in node.args:
            found = target_consolidation(a)
            if found:
                return found
    return None


def target_consolidations(node) -> list[str]:
    """EVERY consolidateBy() method named in the target, in AST order —
    for up-front validation; scoping is evaluate_target's stack."""
    out = []
    if isinstance(node, Call):
        if node.name == "consolidateBy":
            method = "avg"
            for a in node.args:
                if not isinstance(a, (Call, PathGlob)):
                    method = _how(a, "avg")
            out.append(method)
        for a in node.args:
            out.extend(target_consolidations(a))
    return out


def target_globs(node) -> list[str]:
    """All metric globs referenced by a parsed target (for index expansion)."""
    if isinstance(node, PathGlob):
        return [node.glob]
    if isinstance(node, Call):
        out = []
        for a in node.args:
            out.extend(target_globs(a))
        return out
    return []
