"""``airport_dashboard``: one dashboard polling its four endpoints.

Closed loop, one client: the next request goes out when the previous
response has been checked. Setup lands the generated airport history as
typed ``sources.tables.AppendTable`` logs (the read path only: live
ingest is ``users_cdc_live``'s), serves the nine airport pipes over
``PipeApiServer`` with the clock frozen at the data's ``NOW``, and polls
two untimed warm cycles. Every response is compared with the
generator's model; each dashboard figure is then built from it with the
``plans.dashboard`` series builders.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

import gen_airport
import serving
from common import Result, Run, pct
from demo_cdc_users_airline_spark.core.clock import Clock
from demo_cdc_users_airline_spark.plans import dashboard
from demo_cdc_users_airline_spark.plans.airport import register_airport_pipes
from demo_cdc_users_airline_spark.sources import cdc
from demo_cdc_users_airline_spark.sources.tables import AppendTable

ARROW = {"ShortType": pa.int16(), "IntegerType": pa.int32(),
         "DoubleType": pa.float64(), "StringType": pa.string(),
         "TimestampType": pa.timestamp("us")}
SCHEMAS = {"flights": cdc.FLIGHTS_RAW_SCHEMA,
           "passengers": cdc.PASSENGERS_RAW_SCHEMA,
           "baggage": cdc.BAGGAGE_RAW_SCHEMA}
WARM_CYCLES = 2
FIGURES = {
    "active_vs_missed_flights": dashboard.flights_vs_missed_series,
    "passenger_activity": dashboard.passenger_activity_series,
    "passengers_by_flight_status": dashboard.passenger_states_chart,
    "baggage_by_flight_status": dashboard.baggage_chart,
}


def _land(run: Run, history) -> dict:
    """Write each event log as the typed ``<kind>_raw`` table that CDC
    ingest produces (the raw schema plus ``__timestamp``); returns the
    tables."""
    tables = {}
    for kind, schema in SCHEMAS.items():
        events = history.events[kind]
        cols = {f.name: pa.array([e[f.name] for e in events],
                                 ARROW[type(f.dataType).__name__])
                for f in schema.fields}
        cols["__timestamp"] = pa.array(gen_airport.ingest_stamps(events),
                                       pa.timestamp("us"))
        path = os.path.join(run.work, f"{kind}_raw")
        os.makedirs(path)
        pq.write_table(pa.table(cols), os.path.join(path, "part-0.parquet"))
        tables[kind] = AppendTable(run.spark, path)
    return tables


def _cycle(run: Run, url: str, want: dict, res: Result,
           request_s: list[float]) -> None:
    for ep in dashboard.DASHBOARD_ENDPOINTS:
        since = len(run.tracer.spans)
        status, body, rtt = serving.fetch(url, ep)
        serving.request_layers(run.tracer, since, status, rtt)
        request_s.append(rtt)
        if run.corrupt and res.attempted == 0 and body.get("data"):
            body["data"] = body["data"][1:]
        if status != 200:
            res.error(f"{ep}: HTTP {status} {body.get('error')}")
            continue
        res.check(gen_airport.mismatch(ep, body["data"], want[ep]))
        with run.tracer.span("dashboard.format"):
            FIGURES[ep](body)


def run(run: Run) -> Result:
    history = gen_airport.generate(run.seed,
                                   n_flights=12 if run.small else 100)
    want = gen_airport.expected_endpoints(history)
    tables = _land(run, history)
    registry = serving.make_registry(run.spark, run.tracer)
    for kind, table in tables.items():
        registry.add_datasource(f"{kind}_raw", table.read)
    register_airport_pipes(registry)
    res = Result(e2e={})
    with serving.serve(registry, run.tracer,
                       Clock.fixed(gen_airport.NOW)) as url:
        for _ in range(WARM_CYCLES):  # untimed; the JIT is still warming
            _cycle(run, url, want, res, [])
        setup_s = time.perf_counter() - run.t_start
        run.tracer.reset()
        request_s: list[float] = []
        cycle_s: list[float] = []
        end = run.deadline()
        while time.perf_counter() < end:
            t0 = time.perf_counter()
            _cycle(run, url, want, res, request_s)
            cycle_s.append(time.perf_counter() - t0)
    res.e2e = {"latency_s": pct(request_s, 50),
               "latency_tail_s": pct(request_s, 90),
               "cycle_s": pct(cycle_s, 50),
               "setup_s": setup_s}
    res.layers = serving.request_metrics(run.tracer)
    res.layers["dashboard.format_s"] = run.tracer.median_s("dashboard.format")
    return res
