"""``index_stream``: one document stream fanned out to every index maintainer.

Closed loop, batch after batch, in the shape of the all-maintainer soak
(``tests/test_streaming_pipeline_soak.py``). Setup generates the sf0.001
corpus, builds the seven artifacts the maintainers start from (LSH
admission, BM25, near-dup clusters, IVF, PQ, SQ8, training manifest)
with the catalog's ``operators.*`` builders and the tokenizer, four
builds at a time, starts one
``StreamingIndexPipeline`` with all eight legs over a JSON-lines file
source, and ingests one untimed warm batch.

The measured sequence is fixed, one batch: novel documents, an exact
duplicate of a warm document, one document that passes the manifest's
quality floor and one with a unique term, all with vectors that drift
far from the trained codebooks, so the IVF and SQ8 rebuild gates fire,
and every leg compacts. The batch's time runs from writing its file
until ``processAllAvailable()`` returns, when every artifact serves it.
The sequence takes longer than ``--seconds`` on any host and is always
measured whole, so every run does the same work; it is short because
the artifact builds in set-up take most of a run.

Afterwards the serve gates of the soak are checked: every streamed
vector is in the IVF, PQ and SQ8 codes exactly once, each rebuild fired
once, LSH admitted exactly the non-duplicates, the BM25 postings serve
the batch's unique term, the manifest admitted the quality documents,
the near-duplicate joined its original's cluster and the tokenizer
reported every batch.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen_tables
from common import Result, Run
from demo_cdc_users_airline_spark.operators.dedup import (
    build_cluster_index,
    build_lsh_index,
    cluster_labels_of,
)
from demo_cdc_users_airline_spark.operators.kmeans_ivf import (
    build_ivf_index,
    ivf_cells_path,
)
from demo_cdc_users_airline_spark.operators.manifest import (
    build_manifest_index,
    read_manifest_rows,
)
from demo_cdc_users_airline_spark.operators.pq import (
    build_pq_index,
    pq_codes_path,
)
from demo_cdc_users_airline_spark.operators.retrieval import (
    bm25_serve,
    build_bm25_index,
)
from demo_cdc_users_airline_spark.operators.sq8 import (
    build_sq8_index,
    sq8_codes_path,
)
from demo_cdc_users_airline_spark.sources.loader import load_table
from demo_cdc_users_airline_spark.sources.tables import AppendTable
from demo_cdc_users_airline_spark.streaming.bm25_ingest import (
    StreamingBm25Ingest,
)
from demo_cdc_users_airline_spark.streaming.cluster_ingest import (
    StreamingClusterIngest,
)
from demo_cdc_users_airline_spark.streaming.ivf_ingest import (
    StreamingIvfIngest,
)
from demo_cdc_users_airline_spark.streaming.lsh_ingest import (
    StreamingLshIngest,
)
from demo_cdc_users_airline_spark.streaming.manifest_ingest import (
    StreamingManifestIngest,
)
from demo_cdc_users_airline_spark.streaming.pipeline import (
    StreamingIndexPipeline,
)
from demo_cdc_users_airline_spark.streaming.pq_ingest import (
    StreamingPqIngest,
)
from demo_cdc_users_airline_spark.streaming.sq8_ingest import (
    StreamingSq8Ingest,
)
from demo_cdc_users_airline_spark.streaming.tokenizer_ingest import (
    StreamingTokenizerIngest,
)

SF = 0.001
BUILD_THREADS = 4
COMPACT_EVERY = 1   # the measured batch compacts every artifact
DRIFT = 1.0         # added to every vector coordinate of the measured batch
FIRST_ID = 10_000_000
UNIQUE_TERM = "zzbenchterm"
LEGS = ("lsh", "bm25", "clusters", "ivf", "pq", "sq8", "tokenizer",
        "manifest")
SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("embedding", T.ArrayType(T.DoubleType())),
])
BUILDS = {"lsh": build_lsh_index, "bm25": build_bm25_index,
          "clusters": build_cluster_index, "ivf": build_ivf_index,
          "pq": build_pq_index, "sq8": build_sq8_index,
          "manifest": build_manifest_index}
STOPS = ("the", "of", "a", "to", "in", "is", "the", "and")


class Batches:
    """The seeded document stream and what each artifact must end up
    holding. Words carry a document-specific suffix, so novel documents
    never near-duplicate each other or the corpus (whose words come from
    ``gen_tables.WORDS``); the seed picks the words and the vectors."""

    STOCK = ("aurora basalt cantilever dromedary estuary fjord glacier "
             "harmonica isthmus javelin kestrel lagoon meridian nimbus "
             "obsidian parallax quasar rivulet sediment theodolite umbra "
             "vertex wavelet xylophone yardarm zephyr").split()

    def __init__(self, seed: int, data: str):
        self.rng = np.random.default_rng(seed)
        base = pq.read_table(os.path.join(data, "embeddings.parquet"))
        self.base_vecs = [list(map(float, v)) for v in
                          base.column("embedding").to_pylist()]
        self.next_id = FIRST_ID
        self.texts: dict[int, str] = {}  # warm documents
        self.sent: list[int] = []        # every streamed doc id
        self.dups: dict[int, int] = {}   # duplicate id -> original id
        self.quality: list[int] = []     # ids the manifest must admit
        self.unique_doc: int | None = None

    def _id(self) -> int:
        self.next_id += 1
        return self.next_id

    def _words(self, doc: int, mark: str, n: int) -> list[str]:
        k0 = int(self.rng.integers(0, len(self.STOCK)))
        return [f"{self.STOCK[(k0 + k) % len(self.STOCK)]}"
                f"{doc - FIRST_ID}{mark}{k}" for k in range(n)]

    def _novel(self, doc: int) -> str:
        return " ".join(self._words(doc, "x", 12))

    def _quality(self, doc: int) -> str:
        # 24 tokens, a third of them stopwords: passes the quality floor
        body = self._words(doc, "q", 16)
        out = []
        for i, stop in enumerate(STOPS):
            out += [stop] + body[2 * i:2 * i + 2]
        return " ".join(out)

    def _vec(self, drift: float = 0.0) -> list[float]:
        v = self.base_vecs[int(self.rng.integers(0, len(self.base_vecs)))]
        return [x + drift for x in v]

    def _row(self, doc: int, text: str, drift: float = 0.0) -> dict:
        self.sent.append(doc)
        return {"doc_id": doc, "text": text, "embedding": self._vec(drift)}

    def warm(self) -> list[dict]:
        rows = []
        for _ in range(3):
            doc = self._id()
            self.texts[doc] = self._novel(doc)
            rows.append(self._row(doc, self.texts[doc]))
        return rows

    def sequence(self) -> list[list[dict]]:
        original = min(self.texts)
        dup, quality = self._id(), self._id()
        self.dups[dup] = original
        self.quality.append(quality)
        self.unique_doc = self._id()
        rows = [self._row(dup, self.texts[original], DRIFT),
                self._row(quality, self._quality(quality), DRIFT),
                self._row(self.unique_doc,
                          f"{UNIQUE_TERM} {UNIQUE_TERM} rare posting", DRIFT)]
        rows += [self._row(d, self._novel(d), DRIFT)
                 for d in (self._id(), self._id())]
        return [rows]


def _build(run: Run, data: str,
           work: str) -> tuple[dict, StreamingIndexPipeline]:
    """Build every artifact, ``BUILD_THREADS`` at a time. Traced, each
    build is a ``catalog.build`` span with its own job group (the
    ``operators.*`` builders are the catalog's)."""
    spark, tracer = run.spark, run.tracer
    paths = {leg: os.path.join(work, leg) for leg in LEGS}
    tok = StreamingTokenizerIngest(path=paths["tokenizer"],
                                   retrain_check_every=0)
    steps = {leg: lambda leg=leg: BUILDS[leg](spark, data, paths[leg])
             for leg in BUILDS}
    steps["tokenizer"] = lambda: tok.build(
        spark, load_table(spark, data, "documents").select("doc_id", "text"))

    def step(name):
        with tracer.span("catalog.build", trace=name, jobs=True):
            steps[name]()

    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=BUILD_THREADS) as pool:
        for f in [pool.submit(step, name) for name in steps]:
            f.result()
    tracer.add("catalog.build_s", time.perf_counter() - t0)
    paths["admitted"] = os.path.join(work, "admitted")
    pipe = StreamingIndexPipeline(
        lsh=StreamingLshIngest(index_path=paths["lsh"],
                               out_table=AppendTable(spark,
                                                     paths["admitted"]),
                               rebuild_check_every=COMPACT_EVERY,
                               compact_check_every=COMPACT_EVERY),
        bm25=StreamingBm25Ingest(index_path=paths["bm25"],
                                 compact_check_every=COMPACT_EVERY),
        clusters=StreamingClusterIngest(index_path=paths["clusters"],
                                        compact_check_every=COMPACT_EVERY),
        ivf=StreamingIvfIngest(
            index_path=paths["ivf"],
            report_table=AppendTable(spark, os.path.join(work, "ivf_report")),
            rebuild_check_every=1, compact_check_every=COMPACT_EVERY),
        pq=StreamingPqIngest(index_path=paths["pq"],
                             compact_check_every=COMPACT_EVERY),
        sq8=StreamingSq8Ingest(index_path=paths["sq8"],
                               compact_check_every=COMPACT_EVERY,
                               rebuild_check_every=1),
        tokenizer=tok,
        manifest=StreamingManifestIngest(index_path=paths["manifest"]),
    )
    return paths, pipe


def _trace(tracer, pipe: StreamingIndexPipeline) -> None:
    """Wrap the foreachBatch body, each leg and each leg's maintenance
    hooks. Must run before the stream starts, which binds the body."""
    body = pipe.process_batch

    def traced_batch(batch_df, batch_id):
        before = tracer.jobs_submitted()
        with tracer.span("pipeline.batch", trace=str(batch_id)):
            body(batch_df, batch_id)
        tracer.sample("pipeline.jobs_per_batch",
                      tracer.jobs_submitted() - before)

    def timed(leg, fn):
        def wrapper(batch_df, batch_id):
            with tracer.span(f"{leg}.batch", trace=str(batch_id)):
                return fn(batch_df, batch_id)
        return wrapper

    def counted(name, fn):
        def wrapper(*args, **kwargs):
            fired = fn(*args, **kwargs)
            tracer.add(name, 1.0 if fired else 0.0)
            return fired
        return wrapper

    pipe.process_batch = traced_batch
    for leg in LEGS:
        ingest = getattr(pipe, leg)
        ingest.process_batch = timed(leg, ingest.process_batch)
        for hook, name in (("_maybe_compact", "pipeline.compactions"),
                           ("_maybe_rebuild", "pipeline.rebuilds"),
                           ("_maybe_rebuild_width", "pipeline.rebuilds")):
            if hasattr(ingest, hook):
                setattr(ingest, hook, counted(name, getattr(ingest, hook)))


def _layers(tracer, builds: dict[str, float]) -> dict[str, float]:
    out = dict(builds)
    out.update({f"{leg}.batch_s": tracer.median_s(f"{leg}.batch")
                for leg in LEGS})
    leg_max, overlap = [], []
    for batch in tracer.of("pipeline.batch"):
        legs = [s.end - s.start for s in tracer.spans
                if s.trace == batch.trace and s.name.endswith(".batch")
                and s.name != "pipeline.batch"]
        leg_max.append(max(legs, default=0.0))
        overlap.append(sum(legs) / (batch.end - batch.start))
    out.update({
        "pipeline.batch_s": tracer.median_s("pipeline.batch"),
        "pipeline.leg_max_s": statistics.median(leg_max) if leg_max else 0.0,
        "pipeline.overlap": statistics.median(overlap) if overlap else 0.0,
        "pipeline.jobs_per_batch":
            tracer.median_sample("pipeline.jobs_per_batch"),
        "pipeline.rebuilds": tracer.counts.get("pipeline.rebuilds", 0.0),
        "pipeline.compactions": tracer.counts.get("pipeline.compactions", 0.0),
    })
    return out


def _check(run: Run, paths: dict, batches: Batches, n_batches: int,
           res: Result) -> None:
    spark = run.spark
    want = sorted(batches.sent)

    def ids(path, col="vec_id"):
        return sorted(r[0] for r in spark.read.parquet(path)
                      .filter(F.col(col) >= FIRST_ID).select(col).collect())

    def same(what, got, expected):
        res.check(None if got == expected else
                  f"{what}: got {got[:8]}..., want {expected[:8]}...")

    codes = {"ivf": ivf_cells_path(paths["ivf"]),
             "pq": pq_codes_path(paths["pq"]),
             "sq8": sq8_codes_path(paths["sq8"])}
    for family, path in codes.items():
        got = ids(path)
        if run.corrupt and family == "ivf":
            got = got[1:]
        same(f"{family} codes hold each streamed vector once", got, want)
    for family in ("ivf", "sq8"):
        same(f"{family} rebuilt once on the drift batch",
             [os.path.exists(os.path.join(paths[family],
                                          f"_{family}_live.json")),
              codes[family].rstrip("/").split("/")[-2]], [True, "v1"])
    same("LSH admitted the non-duplicates", ids(paths["admitted"], "doc_id"),
         sorted(set(want) - set(batches.dups)))
    same("BM25 serves the unique term",
         [r["doc_id"] for r in
          bm25_serve(spark, paths["bm25"], terms=(UNIQUE_TERM,)).collect()],
         [batches.unique_doc])
    same("manifest admitted the quality documents",
         sorted(r["doc_id"] for r in read_manifest_rows(spark,
                                                        paths["manifest"])
                .filter(F.col("ingest_batch") >= 0).collect()),
         sorted(batches.quality))
    labels = {r["doc_id"]: r["cluster_id"] for r in
              cluster_labels_of(spark, paths["clusters"])
              .filter(F.col("doc_id") >= FIRST_ID).collect()}
    same("the duplicate joined its original's cluster",
         [labels.get(d) for d in batches.dups],
         [labels.get(o) for o in batches.dups.values()])
    same("the tokenizer reported every batch",
         sorted(r[0] for r in spark.read.parquet(
             os.path.join(paths["tokenizer"], "report"))
             .select("ingest_batch").collect()),
         list(range(n_batches)))


def run(run: Run) -> Result:
    spark, tracer = run.spark, run.tracer
    data = os.path.join(run.work, "data")
    gen_tables.generate(data, SF, run.seed)
    batches = Batches(run.seed, data)
    paths, pipe = _build(run, data, os.path.join(run.work, "idx"))
    spans = tracer.of("catalog.build")
    builds = {f"catalog.{s.trace}.build_s": s.end - s.start for s in spans}
    builds.update({"catalog.build_s": tracer.counts.get("catalog.build_s", 0),
                   "catalog.jobs": sum(s.jobs for s in spans),
                   "catalog.stages": sum(s.stages for s in spans)})
    if tracer.enabled:
        _trace(tracer, pipe)
    src = os.path.join(run.work, "src")
    os.makedirs(src)
    stream = (spark.readStream.format("text")
              .option("maxFilesPerTrigger", 1).load(src)
              .select(F.from_json(F.col("value"), SCHEMA).alias("j"))
              .select("j.doc_id", "j.text", "j.embedding"))

    def ingest(k: int, rows: list[dict]) -> float:
        t0 = time.perf_counter()
        # written aside and renamed in, so the source never sees half a file
        tmp = os.path.join(run.work, f"b{k}.json")
        with open(tmp, "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows) + "\n")
        os.rename(tmp, os.path.join(src, f"b{k}.json"))
        query.processAllAvailable()
        return time.perf_counter() - t0

    res = Result(e2e={})
    query = pipe.start(stream, os.path.join(run.work, "ckpt"))
    try:
        ingest(0, batches.warm())
        setup_s = time.perf_counter() - run.t_start
        tracer.reset()
        batch_s = []
        for k, rows in enumerate(batches.sequence(), start=1):
            try:
                batch_s.append(ingest(k, rows))
                res.error(None)
            except Exception as e:  # a failed batch stops the stream
                res.error(f"batch {k}: {type(e).__name__}: {e}")
                break
    finally:
        query.stop()
    if not res.failed:
        _check(run, paths, batches, len(batch_s) + 1, res)
    res.e2e = {"latency_s": statistics.median(batch_s) if batch_s else 0.0,
               "latency_tail_s": max(batch_s, default=0.0),
               "cycle_s": sum(batch_s),
               "setup_s": setup_s}
    if tracer.enabled:
        res.layers = _layers(tracer, builds)
    return res
