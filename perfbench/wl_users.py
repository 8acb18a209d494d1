"""``users_cdc_live``: live users CDC ingest beside one polling reader.

Open loop: a generator thread writes one JSON-lines file of
``EVENTS_PER_FILE`` changes every ``FILE_INTERVAL_S`` seconds into the
directory ``streaming.upsert.file_json_source`` watches, on a schedule
that does not wait for the engine. ``CdcPipeline`` ingests each file as
one micro-batch into a raw log, a quarantine log and a ``VersionedTable``
compacted every ``COMPACT_EVERY`` batches. Meanwhile one checker
connection polls ``users_api_rmt`` over ``PipeApiServer`` back to back,
after ``WARM_READS`` untimed reads.

An event's freshness runs from its creation to the first checker
response that shows its version. Events are created at the fixed rate,
spread evenly over the interval before the file that carries them is
due, so freshness includes the wait for that file. After the window the
stream is drained; the final ``users_api_rmt`` rows must then equal the
generator's OLTP table and the quarantine log must hold exactly the
malformed lines injected.
"""

from __future__ import annotations

import os
import threading
import time

import gen_users
import serving
from common import Result, Run, pct
from demo_cdc_users_airline_spark.plans.users import (
    users_api_rmt_pipe,
    users_mv_pg,
)
from demo_cdc_users_airline_spark.sources.cdc import USERS_RAW_PG_SCHEMA
from demo_cdc_users_airline_spark.sources.tables import (
    AppendTable,
    VersionedTable,
)
from demo_cdc_users_airline_spark.streaming.upsert import (
    CdcPipeline,
    file_json_source,
)

SEED_EVENTS = 600
EVENTS_PER_FILE = 20
FILE_INTERVAL_S = 2.0
COMPACT_EVERY = 4
DRAIN_READS = 20
# A read that overlaps VersionedTable.compact() can fail with one of these
# errors: the compaction swaps the table's directory, and so its files,
# under the running listing, schema merge or scan. It is a known defect
# of the engine. The checker retries such a read, as a client retries a
# transient error, and the read's time covers every attempt; the
# retries are counted in ``tables.read_retries``. A read still failing
# after ``READ_ATTEMPTS`` attempts fails.
COMPACTION_RACE = ("FILE_NOT_EXIST", "PATH_NOT_FOUND",
                   "java.io.FileNotFoundException")
READ_ATTEMPTS = 4
WARM_READS = 8
COLUMNS = ("name", "email", "address", "phone_number", "email_verified",
           "onboarded", "deleted", "lang")


class Feed:
    """The generator side: writes files on schedule, remembers when."""

    def __init__(self, stream: gen_users.UsersStream, src: str, stage: str):
        self.stream, self.src, self.stage = stream, src, stage
        self.written: dict[str, float] = {}   # file name -> write time
        self.created: list[tuple[int, str, float]] = []  # id, version, t
        self.late_s: list[float] = []
        self.lock = threading.Lock()

    def write(self, k: int, lines: list[str]) -> None:
        name = f"{k:06d}.json"
        tmp = os.path.join(self.stage, name)
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.rename(tmp, os.path.join(self.src, name))
        with self.lock:
            self.written[name] = time.perf_counter()

    def schedule(self, first: int, n_files: int, per_file: int,
                 interval: float, t0: float) -> None:
        for k in range(n_files):
            due = t0 + k * interval
            time.sleep(max(0.0, due - time.perf_counter()))
            lines, created = self.stream.file(per_file)
            self.write(first + k, lines)
            self.late_s.append(time.perf_counter() - due)
            # at the fixed event rate, the file's events were created
            # evenly over the interval that ends when it is due
            step = interval / max(1, len(created))
            with self.lock:
                self.created += [(uid, gen_users.api_ts(us),
                                  due - interval + (j + 1) * step)
                                 for j, (uid, us) in enumerate(created)]
        held = self.stream.flush()
        if held:
            self.write(first + n_files, held)


def _trace_pipeline(tracer, pipe: CdcPipeline, feed: Feed,
                    dirs: list[str]) -> None:
    """Wrap the foreachBatch body and the compaction in spans."""
    body, compact = pipe.process_batch, pipe.latest_table.compact
    seen = {"batches": 0}

    def files() -> dict[str, int]:
        out = {}
        for d in dirs:
            for root, _, names in os.walk(d):
                for n in names:
                    p = os.path.join(root, n)
                    out[p] = os.path.getsize(p)
        return out

    def traced_batch(batch_df, batch_id):
        start = time.perf_counter()
        # one file per trigger, taken in write order: batch k reads file k
        name = f"{batch_id:06d}.json"
        with feed.lock:
            written = feed.written.get(name, start)
            backlog = len(feed.written) - seen["batches"]
        seen["batches"] += 1
        tracer.add("upsert.queue_wait_s", start - written)
        tracer.peak("upsert.backlog_files_max", backlog)
        before = files()
        with tracer.span("upsert.batch", jobs=True):
            body(batch_df, batch_id)
        after = files()
        tracer.add("tables.bytes_written",
                   sum(s for p, s in after.items() if p not in before))

    def traced_compact():
        with tracer.span("tables.compact"):
            compact()

    pipe.process_batch = traced_batch
    pipe.latest_table.compact = traced_compact


def _visible(rows: list[dict], pending: list, t: float,
             fresh_s: list[float]) -> list:
    shown = {r["id"]: r["updated_at"] for r in rows}
    left = []
    for uid, version, due in pending:
        if shown.get(uid, "") >= version:
            fresh_s.append(t - due)
        else:
            left.append((uid, version, due))
    return left


def _state_problems(rows: list[dict], truth: dict) -> list[str]:
    got = {r["id"]: r for r in rows}
    out = []
    for uid, want in sorted(truth.items()):
        g = got.pop(uid, None)
        exp = {c: want[c] for c in COLUMNS}
        exp["updated_at"] = gen_users.api_ts(want["updated_at"])
        exp["created_at"] = gen_users.api_ts(want["created_at"])
        bad = None if g is None else next(
            (c for c, v in exp.items() if g.get(c) != v), None)
        if g is None or bad:
            out.append(f"users_api_rmt id {uid}: "
                       + ("missing" if g is None else
                          f"{bad} {g.get(bad)!r} != {exp[bad]!r}"))
    out += [f"users_api_rmt id {uid}: not in the source" for uid in got]
    return out


def run(run: Run) -> Result:
    per_file, interval = (5, 1.0) if run.small else (EVENTS_PER_FILE,
                                                     FILE_INTERVAL_S)
    spark, tracer = run.spark, run.tracer
    src, stage = (os.path.join(run.work, d) for d in ("src", "stage"))
    for d in (src, stage):
        os.makedirs(d)
    stream = gen_users.UsersStream(run.seed)
    feed = Feed(stream, src, stage)
    feed.write(0, stream.file(60 if run.small else SEED_EVENTS)[0])

    tables = [os.path.join(run.work, t) for t in ("raw", "latest", "quar")]
    latest = VersionedTable(spark, tables[1], key=["id"],
                            version="updated_at", tiebreak=["__timestamp"])
    pipe = CdcPipeline(spark=spark, schema=USERS_RAW_PG_SCHEMA,
                       raw_table=AppendTable(spark, tables[0]),
                       latest_table=latest,
                       quarantine_table=AppendTable(spark, tables[2]),
                       mv_transform=users_mv_pg,
                       compact_every_n_batches=COMPACT_EVERY)
    if tracer.enabled:
        _trace_pipeline(tracer, pipe, feed, tables)
    registry = serving.make_registry(spark, tracer)
    registry.add_datasource("users_latest", latest.latest)
    registry.add_pipe(users_api_rmt_pipe())

    res = Result(e2e={})
    read_s: list[float] = []
    fresh_s: list[float] = []
    query = pipe.start(file_json_source(spark, src),
                       os.path.join(run.work, "ckpt"))
    try:
        query.processAllAvailable()  # the seed history, one batch
        feed.write(1, stream.file(per_file)[0])  # one untimed live batch
        query.processAllAvailable()
        with serving.serve(registry, tracer) as url:

            def read():
                t0 = time.perf_counter()
                for attempt in range(1, READ_ATTEMPTS + 1):
                    since = len(tracer.spans)
                    status, body, rtt = serving.fetch(url, "users_api_rmt")
                    serving.request_layers(tracer, since, status, rtt)
                    error = str(body.get("error"))
                    if status == 200 or attempt == READ_ATTEMPTS or not any(
                            m in error for m in COMPACTION_RACE):
                        break
                    tracer.add("tables.read_retries")
                res.error(None if status == 200 else
                          f"users_api_rmt: HTTP {status} {error}")
                return (body.get("data") or []), time.perf_counter() - t0

            for _ in range(WARM_READS):  # untimed
                read()
            setup_s = time.perf_counter() - run.t_start
            tracer.reset()
            n_files = max(1, round(run.seconds / interval))
            gen = threading.Thread(
                target=feed.schedule,
                args=(2, n_files, per_file, interval, time.perf_counter()))
            gen.start()
            pending: list = []

            def poll():
                nonlocal pending
                with feed.lock:
                    created = feed.created[len(pending) + len(fresh_s):]
                rows, rtt = read()
                pending = _visible(rows, pending + created,
                                   time.perf_counter(), fresh_s)
                return rows, rtt

            end = run.deadline()
            while time.perf_counter() < end:
                read_s.append(poll()[1])
            gen.join()
            query.processAllAvailable()
            for _ in range(DRAIN_READS):
                rows = poll()[0]
                if not pending:
                    break
            for uid, version, _ in pending:
                res.check(f"event id {uid} @ {version} never became visible")
            if run.corrupt and rows:
                rows[0] = {**rows[0], "email": "corrupted"}
            res.check_all(len(stream.truth),
                          _state_problems(rows, stream.truth))
    finally:
        query.stop()
    quarantined = spark.read.parquet(tables[2]).count() \
        if os.path.isdir(tables[2]) else 0
    res.check(None if quarantined == stream.malformed else
              f"quarantine holds {quarantined} rows, "
              f"{stream.malformed} malformed lines were sent")

    res.e2e = {"latency_s": pct(fresh_s, 50),
               "latency_tail_s": pct(fresh_s, 90),
               "cycle_s": pct(read_s, 50),
               "setup_s": setup_s}
    if tracer.enabled:
        n_batches = max(1, len(tracer.of("upsert.batch")))
        events = len(feed.created)
        state = spark.read.parquet(latest.path)
        res.layers = serving.request_metrics(tracer)
        res.layers.update({
            "upsert.batch_s": tracer.median_s("upsert.batch"),
            "upsert.jobs_per_batch": tracer.median_jobs("upsert.batch"),
            "upsert.queue_wait_s":
                tracer.counts.get("upsert.queue_wait_s", 0.0) / n_batches,
            "upsert.backlog_files_max":
                tracer.counts.get("upsert.backlog_files_max", 0.0),
            "gen.late_s": max(feed.late_s),
            "tables.compact_s": tracer.median_s("tables.compact"),
            "tables.compactions": len(tracer.of("tables.compact")),
            "tables.bytes_written_per_event":
                tracer.counts.get("tables.bytes_written", 0.0) / events,
            "tables.read_retries":
                tracer.counts.get("tables.read_retries", 0.0),
            "tables.latest_rows_per_key":
                state.count() / state.select("id").distinct().count(),
            "cdc.quarantined_rows": quarantined,
        })
    return res
