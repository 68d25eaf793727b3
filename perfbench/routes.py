"""The six request classes: parameters drawn from the seed, the call
into ``SignalDBAPI``, and the oracle check of the returned envelope.

Every request is a ``Request``: ``call(api)`` issues it and
``check(response)`` returns an error string, or None when the envelope
equals the oracle's answer.
"""

from __future__ import annotations

import bisect
import itertools
import math
import random
from collections import Counter, defaultdict
from dataclasses import dataclass
from typing import Any, Callable

from gen import SERVICE_WEIGHTS, SERVICES, Oracle, us_to_dt

CLASSES = ("loki_logs", "loki_metric", "prom_range", "tempo_trace",
           "tempo_search", "sql_ir")
# The dashboard route mix: one pass issues each class this many times,
# interleaved in this fixed order (point lookups and log tails are the
# most frequent panel refreshes).
MIX = ("tempo_trace", "loki_logs", "loki_metric", "prom_range", "tempo_search",
       "sql_ir", "tempo_trace", "loki_logs", "tempo_search", "sql_ir",
       "loki_metric", "prom_range")
LOG_LIMIT = 20
SEARCH_LIMIT = 20
MIN_WINDOW_US = 15 * 60 * 10**6
# Steps of the parameter sequences: irrationals that are rationally
# independent, so the draws of one request are jointly equidistributed.
WEYL_STEPS = {"length": (math.sqrt(5) - 1) / 2, "start": math.sqrt(2) - 1,
              "service": math.sqrt(3) - 1, "trace": math.sqrt(7) - 2}


@dataclass
class Request:
    cls: str
    call: Callable[[Any], Any]
    check: Callable[[Any], "str | None"]


def _bucket(ts_us: int, step: int) -> int:
    return (ts_us // 10**6) // step * step


def _step_for(lo_us: int, hi_us: int) -> int:
    return 60 if hi_us - lo_us <= 3600 * 10**6 else 300


def _error(resp) -> "str | None":
    if isinstance(resp, dict) and resp.get("status") == "error":
        return f"error envelope: {resp.get('error', '')[:200]}"
    return None


def _same(got: dict, want: dict, what: str) -> "str | None":
    if got.keys() != want.keys():
        return (f"{what}: {len(got)} keys vs {len(want)} expected "
                f"(e.g. {sorted(set(got) ^ set(want))[:2]})")
    for k, v in want.items():
        if not math.isclose(got[k], v, rel_tol=1e-9, abs_tol=1e-12):
            return f"{what}: {k} = {got[k]} vs {v} expected"
    return None


class RequestMaker:
    """Draws request parameters from the seed: services follow the same
    skewed popularity as the corpus, trace IDs are uniform over the
    ingested ones, and windows range from 15 minutes to the full range
    (log-uniform lengths). ``recent=True`` anchors every window at the
    newest data, as a dashboard watching fresh ingest does.

    Window lengths, window starts, services and trace IDs are
    stratified: each request class walks its own Weyl sequences from
    seeded offsets, so even a few requests of a class cover these
    distributions evenly and a class median moves little from one seed
    to the next."""

    def __init__(self, seed: int, oracle: Oracle, t0_us: int):
        self.rng = random.Random(seed ^ 0x5EED)
        self.oracle = oracle
        self.t0_us = t0_us
        self._issued: Counter = Counter()
        self._drawn: Counter = Counter()
        self._offsets: dict[tuple[str, str], float] = {}
        self._service_cdf = list(itertools.accumulate(SERVICE_WEIGHTS))

    def variant(self, cls: str) -> int:
        """0, 0, 1, 0, 0, 1, ...: each class with two request shapes issues
        its main shape twice for every other one, a fixed share that keeps
        the class median inside the main shape's latency mode."""
        self._issued[cls] += 1
        return int(self._issued[cls] % 3 == 0)

    def draw(self, cls: str, what: str) -> float:
        """The next point in [0, 1) of ``cls``'s sequence for ``what``."""
        k = self._drawn[cls, what]
        self._drawn[cls, what] += 1
        if (cls, what) not in self._offsets:
            self._offsets[cls, what] = self.rng.random()
        return (self._offsets[cls, what] + k * WEYL_STEPS[what]) % 1.0

    def window(self, cls: str, recent: bool = False) -> tuple[int, int]:
        end = self.oracle.end_us - 1
        full = end - self.t0_us
        lo_log, hi_log = math.log(MIN_WINDOW_US), math.log(full)
        length = int(math.exp(lo_log + self.draw(cls, "length") * (hi_log - lo_log)))
        lo = end - length if recent else (
            self.t0_us + int(self.draw(cls, "start") * (full - length + 1)))
        return lo, lo + length

    def service(self, cls: str) -> str:
        u = self.draw(cls, "service") * self._service_cdf[-1]
        return SERVICES[bisect.bisect_right(self._service_cdf, u)]

    def make(self, cls: str, recent: bool = False) -> Request:
        return getattr(self, cls)(recent)

    # -- Loki ------------------------------------------------------------
    def loki_logs(self, recent: bool) -> Request:
        lo, hi = self.window("loki_logs", recent)
        svc = self.service("loki_logs")
        errors_only = bool(self.variant("loki_logs"))
        query = f'{{service_name="{svc}"}}' + (' |= "error"' if errors_only else "")
        rows = [r for r in self.oracle.logs_between(lo, hi)
                if r.service == svc and (not errors_only or "error" in r.body)]
        want = {(str(r.ts_us * 1000), r.body) for r in rows[-LOG_LIMIT:]}

        def check(resp):
            err = _error(resp)
            if err:
                return err
            got = [tuple(v) for s in resp["data"]["result"] for v in s["values"]]
            if len(got) != len(set(got)) or set(got) != want:
                return f"loki_logs {query}: {len(got)} lines, {len(want)} expected"
            return None

        return Request("loki_logs", lambda api: api.loki_query_range(
            query, us_to_dt(lo), us_to_dt(hi), limit=LOG_LIMIT), check)

    def loki_metric(self, recent: bool) -> Request:
        lo, hi = self.window("loki_metric", recent)
        step = _step_for(lo, hi)
        query = ('sum by (service_name) (count_over_time('
                 '{service_name=~"svc-.+"} |= "status=500" [%dm]))' % (step // 60))
        want = Counter()
        for r in self.oracle.logs_between(lo, hi):
            if "status=500" in r.body:
                want[(r.service, _bucket(r.ts_us, step))] += 1

        def check(resp):
            err = _error(resp)
            if err:
                return err
            got = {(s["metric"]["service_name"], b): float(v)
                   for s in resp["data"]["result"] for b, v in s["values"]}
            return _same(got, {k: float(v) for k, v in want.items()}, "loki_metric")

        return Request("loki_metric", lambda api: api.loki_query_range(
            query, us_to_dt(lo), us_to_dt(hi), step_seconds=step), check)

    # -- Prometheus ------------------------------------------------------
    def prom_range(self, recent: bool) -> Request:
        lo, hi = self.window("prom_range", recent)
        step = _step_for(lo, hi)
        use_max = bool(self.variant("prom_range"))
        fn = "max" if use_max else "sum"
        query = f"{fn} by (service_name) ({fn}_over_time(cpu_usage[{step // 60}m]))"
        want: dict = {}
        for ts_us, svc, v in self.oracle.cpu_between(lo, hi):
            k = (svc, _bucket(ts_us, step))
            want[k] = max(want.get(k, v), v) if use_max else want.get(k, 0.0) + v

        def check(resp):
            err = _error(resp)
            if err:
                return err
            got = {(s["metric"]["service_name"], b): float(v)
                   for s in resp["data"]["result"] for b, v in s["values"]}
            return _same(got, want, f"prom_range {fn}")

        return Request("prom_range", lambda api: api.prom_query_range(
            query, us_to_dt(lo), us_to_dt(hi), step), check)

    # -- Tempo -----------------------------------------------------------
    def tempo_trace(self, recent: bool) -> Request:
        ids = list(self.oracle.trace_spans)
        tid = ids[int(self.draw("tempo_trace", "trace") * len(ids))]
        want = sorted(self.oracle.trace_spans[tid])

        def check(resp):
            err = _error(resp)
            if err:
                return err
            got, stack = [], list(resp["spans"])
            while stack:
                s = stack.pop()
                got.append(s["span_id"])
                stack.extend(s["children"])
            if resp["traceID"] != tid or sorted(got) != want or resp["spanCount"] != len(want):
                return f"tempo_trace {tid}: {len(got)} spans, {len(want)} expected"
            return None

        return Request("tempo_trace", lambda api: api.tempo_trace(tid), check)

    def tempo_search(self, recent: bool) -> Request:
        lo, hi = self.window("tempo_search", recent)
        if self.variant("tempo_search"):
            return self._traceql_metrics(lo, hi)
        return self._traceql_search(lo, hi)

    def _traceql_search(self, lo: int, hi: int) -> Request:
        svc = self.service("tempo_search")
        q = f'{{ resource.service.name = "{svc}" && status = error }}'
        hits = [s for s in self.oracle.spans_between(lo, hi) if s.service == svc and s.error]
        # the engine's truncation contract: newest limit*50 spans, then
        # the newest `limit` traces by their latest kept span
        hits.sort(key=lambda s: (s.start_ns, s.span_id), reverse=True)
        hits = hits[:SEARCH_LIMIT * 50]
        latest: dict[str, int] = {}
        by_trace = defaultdict(list)
        for s in hits:
            latest[s.trace_id] = max(latest.get(s.trace_id, 0), s.start_ns)
            by_trace[s.trace_id].append(s.span_id)
        order = sorted(latest, key=lambda t: (latest[t], t), reverse=True)[:SEARCH_LIMIT]
        want = [(t, sorted(by_trace[t])) for t in order]

        def check(resp):
            err = _error(resp)
            if err:
                return err
            got = [(t["traceID"], sorted(s["spanID"] for s in t["spanSet"]["spans"]))
                   for t in resp["traces"]]
            if got != want:
                return f"tempo_search {q}: {len(got)} traces, {len(want)} expected"
            return None

        return Request("tempo_search", lambda api: api.tempo_search(
            q=q, limit=SEARCH_LIMIT, start=us_to_dt(lo), end=us_to_dt(hi)), check)

    def _traceql_metrics(self, lo: int, hi: int) -> Request:
        step = _step_for(lo, hi)
        q = "{ status = error } | rate() by (service_name)"
        want = Counter()
        for s in self.oracle.spans_between(lo, hi):
            if s.error:
                want[(s.service, _bucket(s.start_ns // 1000, step) * 1000)] += 1

        def check(resp):
            err = _error(resp)
            if err:
                return err
            got = {(s["labels"][0]["value"], p["timestampMs"]): p["value"]
                   for s in resp["series"] for p in s["samples"]}
            return _same(got, {k: v / step for k, v in want.items()}, "traceql rate")

        return Request("tempo_search", lambda api: api.tempo_metrics_query_range(
            q, us_to_dt(lo), us_to_dt(hi), step_seconds=step), check)

    # -- SQL and Query IR --------------------------------------------------
    def sql_ir(self, recent: bool) -> Request:
        lo, hi = self.window("sql_ir", recent)
        if self.variant("sql_ir"):
            return self._ir(lo, hi)
        return self._sql(lo, hi)

    def _sql(self, lo: int, hi: int) -> Request:
        query = ("SELECT service_name, count(*) AS n, sum(duration_nanos) AS d "
                 f"FROM traces WHERE timestamp BETWEEN '{us_to_dt(lo)}' "
                 f"AND '{us_to_dt(hi)}' GROUP BY service_name")
        want: dict = {}
        for s in self.oracle.spans_between(lo, hi):
            n, d = want.get(s.service, (0, 0))
            want[s.service] = (n + 1, d + s.dur_ns)

        def check(resp):
            err = _error(resp)
            if err:
                return err
            got = {r["service_name"]: (r["n"], r["d"]) for r in resp["data"]}
            if got != want:
                return f"sql: {len(got)} groups, {len(want)} expected"
            return None

        return Request("sql_ir", lambda api: api.sql(query), check)

    def _ir(self, lo: int, hi: int) -> Request:
        step = _step_for(lo, hi)
        req = {"version": 1, "from": "logs", "result": "series",
               "range": {"from": str(us_to_dt(lo)), "to": str(us_to_dt(hi))},
               "aggregate": {"op": "count", "by": ["service_name"], "step_seconds": step}}
        want = Counter()
        for r in self.oracle.logs_between(lo, hi):
            want[(r.service, _bucket(r.ts_us, step))] += 1

        def check(resp):
            err = _error(resp)
            if err:
                return err
            got = {(s["labels"]["service_name"], _ir_bucket(t)): float(n)
                   for s in resp["series"] for t, n in s["points"]}
            return _same(got, {k: float(v) for k, v in want.items()}, "query_ir")

        return Request("sql_ir", lambda api: api.query_ir(req), check)


def _ir_bucket(t: int) -> int:
    """Query IR series time axis → epoch seconds (timestamp columns come
    back as epoch nanoseconds, bucket labels as epoch seconds)."""
    return t // 10**9 if t > 10**12 else t


def freshness_probe(oracle: Oracle) -> Request:
    """The freshness probe: one SQL request counting every signal table,
    which must equal the acknowledged row counts exactly."""
    tables = sorted(oracle.counts)
    query = " UNION ALL ".join(f"SELECT '{t}' AS t, count(*) AS n FROM {t}" for t in tables)
    want = dict(oracle.counts)

    def check(resp):
        err = _error(resp)
        if err:
            return err
        got = {r["t"]: r["n"] for r in resp["data"]}
        if got != want:
            return f"probe: {got} vs {want} acknowledged"
        return None

    return Request("probe", lambda api: api.sql(query), check)
