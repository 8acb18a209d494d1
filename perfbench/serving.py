"""HTTP client and request tracing shared by the two serving workloads.

Requests go through ``plans.http_api.PipeApiServer`` exactly as a
dashboard's would. With tracing on, the registry and the server's
``to_api_json`` are wrapped so that each request records three spans,
``framework.build`` (``Registry.endpoint``), ``endpoints.collect``
(``to_api_json``) and, inside the latter, ``spark.plan``: the Dataset
``to_api_json`` derives from the endpoint frame is planned
(``executedPlan()``) before it is collected, and the collect reuses that
plan, so planning is timed once, on the query that runs. Build and
collect run under their own Spark job groups so their jobs are counted.
Each request's times are exclusive: collect excludes its planning, and
the HTTP overhead is the round trip minus everything the spans cover.
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request
from contextlib import contextmanager

from demo_cdc_users_airline_spark.plans import http_api
from demo_cdc_users_airline_spark.plans.framework import Registry
from demo_cdc_users_airline_spark.plans.http_api import (
    PipeApiServer,
    Token,
    TokenRegistry,
)

SECRET = "perfbench-read"
REQUEST_SPANS = ("framework.build", "spark.plan", "endpoints.collect")


class TracedRegistry(Registry):
    """A Registry whose endpoint builds are timed as ``framework.build``."""

    def __init__(self, spark, tracer):
        super().__init__(spark)
        self.tracer = tracer

    def endpoint(self, name, clock=None, **params):
        with self.tracer.span("framework.build", trace=name, jobs=True):
            return super().endpoint(name, clock, **params)


def make_registry(spark, tracer) -> Registry:
    return TracedRegistry(spark, tracer) if tracer.enabled else Registry(spark)


class _PlannedFrame:
    """Stands in for the endpoint frame inside ``to_api_json``. The
    frames it hands out are planned under ``spark.plan`` first; anything
    else is forwarded unplanned."""

    def __init__(self, df, tracer):
        self._df, self._tracer = df, tracer

    def __getattr__(self, name):
        return getattr(self._df, name)

    def _planned(self, df):
        with self._tracer.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()
        return df

    def limit(self, num):
        return self._planned(self._df.limit(num))

    def collect(self):
        return self._planned(self._df).collect()


@contextmanager
def serve(registry: Registry, tracer, clock=None):
    """Run a PipeApiServer over ``registry``; yields its base URL."""
    real = http_api.to_api_json

    def traced_to_api_json(df, max_rows=http_api.DEFAULT_MAX_ROWS):
        with tracer.span("endpoints.collect", jobs=True):
            out = real(_PlannedFrame(df, tracer), max_rows=max_rows)
        tracer.add("endpoints.rows", out["rows"])
        return out

    if tracer.enabled:
        http_api.to_api_json = traced_to_api_json
    server = PipeApiServer(registry, TokenRegistry([Token("bench", SECRET)]),
                           clock=clock).start()
    try:
        yield server.base_url
    finally:
        server.stop()
        http_api.to_api_json = real


def fetch(base_url: str, pipe: str, timeout: float = 60.0):
    """GET one pipe; returns (status, parsed body, seconds)."""
    url = f"{base_url}/v0/pipes/{pipe}.json?token={SECRET}"
    t0 = time.perf_counter()
    try:
        with urllib.request.urlopen(url, timeout=timeout) as resp:
            status, raw = resp.status, resp.read()
    except urllib.error.HTTPError as e:
        status, raw = e.code, e.read()
    body = json.loads(raw)
    return status, body, time.perf_counter() - t0


def _covered(spans) -> float:
    """Seconds covered by the union of the spans' intervals (an endpoint
    build may open nested builds)."""
    total, reach = 0.0, float("-inf")
    for s in sorted(spans, key=lambda s: s.start):
        if s.end > reach:
            total += s.end - max(s.start, reach)
            reach = s.end
    return total


def request_layers(tracer, since: int, status: int, rtt: float) -> None:
    """Attribute one served request's round trip: the spans recorded
    after span index ``since`` belong to it (requests on one connection
    are sequential). Refused requests are left out, so the job count
    stays exact."""
    if not tracer.enabled or status != 200:
        return
    spans = [s for s in tracer.spans[since:] if s.name in REQUEST_SPANS]

    def of(name):
        return [s for s in spans if s.name == name]

    plan = sum(s.end - s.start for s in of("spark.plan"))
    tracer.sample("framework.build_s", _covered(of("framework.build")))
    tracer.sample("spark.plan_s", plan)
    tracer.sample("endpoints.collect_s",
                  sum(s.end - s.start for s in of("endpoints.collect"))
                  - plan)
    tracer.sample("http_api.overhead_s", rtt - _covered(spans))
    tracer.add("endpoints.jobs", sum(s.jobs for s in spans))
    tracer.add("endpoints.requests")


def request_metrics(tracer) -> dict[str, float]:
    """Per-request medians of the exclusive times, and mean counts."""
    n = tracer.counts.get("endpoints.requests", 0.0) or 1.0
    out = {k: tracer.median_sample(k) for k in
           ("framework.build_s", "spark.plan_s", "endpoints.collect_s",
            "http_api.overhead_s")}
    out["endpoints.jobs_per_request"] = \
        tracer.counts.get("endpoints.jobs", 0.0) / n
    out["endpoints.rows_per_request"] = \
        tracer.counts.get("endpoints.rows", 0.0) / n
    return out
