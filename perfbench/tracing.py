"""Traced run: the job's layers called one by one, with spans and Spark's
event log attributing task time to each call.

The benchmark calls the layers in the order ``plans.pipeline.run_pipeline``
and ``plans.chunk_pipeline.run_chunk_indexing`` use, each on the
materialised (parquet) output of the previous call, so a layer's span holds
only its own work. Before each call the Spark job group is set to the span's
name; after ``spark.stop()`` the event log is read back and task time,
shuffle, spill and failed tasks are summed per job group. GC time is the
JVM's collection time over each span. Nothing inside the package is
instrumented.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import functions as F

from mivaa_pdf_extractor_spark.core import constants as C
from mivaa_pdf_extractor_spark.operators.extract import (auto_partition_target,
                                                         run_extract)
from mivaa_pdf_extractor_spark.operators.skew import run_extract_skewed
from mivaa_pdf_extractor_spark.plans.chunk_pipeline import (CHUNKS_TABLE,
                                                            build_chunks)
from mivaa_pdf_extractor_spark.plans.pipeline import (CHECKPOINTS_TABLE,
                                                      EXTRACTED_TABLE,
                                                      LINEAGE_TABLE,
                                                      completed_doc_ids,
                                                      doc_bytes,
                                                      read_extracted_latest)

MB = 1024 * 1024
PROBE = "probe"  # job group of the benchmark's own counting queries

# layer -> span names whose Spark jobs belong to it
LAYER_SPANS = {
    "resume": ("resume",),
    "extract": ("extract",),
    "skew": ("skew",),
    "catalog": ("catalog.upsert.extracted", "catalog.append.lineage",
                "catalog.upsert.checkpoints", "catalog.replace.chunks"),
    "chunking": ("chunking",),
}


class Tracer:
    """In-memory spans (name, start, end, parent, run id); each span also
    names the Spark job group of the jobs it starts."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._gc_beans = list(spark._jvm.java.lang.management  # noqa: SLF001
                              .ManagementFactory.getGarbageCollectorMXBeans())
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _gc_ms(self) -> int:
        """GC time of the JVM so far. In local mode the driver JVM runs
        every task, so one pause stalls all of them: the span's share of
        it is counted once, not once per running task as summing the
        tasks' own GC times would."""
        return sum(b.getCollectionTime() for b in self._gc_beans)

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, "gc_ms": -self._gc_ms()}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["gc_ms"] += self._gc_ms()
            rec["end"] = time.time()
            self._stack.pop()
            self._restore_group()

    @contextmanager
    def probe(self):
        """Counting queries of the benchmark itself, kept out of the layers'
        task metrics."""
        self.sc.setJobGroup(PROBE, PROBE)
        try:
            yield
        finally:
            self._restore_group()

    def _restore_group(self) -> None:
        """Hand later jobs to the enclosing span, or to the probes once the
        traced job is over."""
        name = self.spans[self._stack[-1]]["name"] if self._stack else PROBE
        self.sc.setJobGroup(name, name)

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def gc_s(self, name: str) -> float:
        return sum(s["gc_ms"] for s in self.spans if s["name"] == name) / 1000

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra},
                      f, indent=1)


def _materialise(df, path: str):
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def persisted_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def traced_job(spark, tracer: Tracer, documents, catalog, scratch: str,
               chunk_ids: list[str] | None) -> dict:
    """One run of the job, layer by layer. Returns the layers' counts;
    ``tracer`` holds the spans. ``chunk_ids`` scopes chunk indexing as in
    ``run_chunk_indexing(doc_ids=...)``."""
    counts: dict[str, float] = {}
    run_id = tracer.run_id
    t0 = time.time()
    spans_of = F.coalesce(F.sum(F.size("spans")), F.lit(0))
    with tracer.span("job"):
        with tracer.span("run_pipeline"):
            with tracer.span("resume"):
                done = completed_doc_ids(catalog)
                todo = documents if done is None else _materialise(
                    documents.join(done, "doc_id", "left_anti"),
                    f"{scratch}/todo")
            with tracer.probe():
                counts["resume.checkpoint_rows"] = (
                    catalog.read(CHECKPOINTS_TABLE).count()
                    if catalog.exists(CHECKPOINTS_TABLE) else 0)
                counts["resume.docs_todo"] = todo.count()
                counts["resume.docs_skipped"] = (
                    documents.count() - counts["resume.docs_todo"])

            # S1 size gate and the normal/giant split, as run_pipeline and
            # run_extract_skewed apply them
            size_ok = F.coalesce(doc_bytes() <= F.lit(C.MAX_DOC_BYTES),
                                 F.lit(True))
            oversize = todo.filter(~size_ok).select(
                "doc_id",
                F.array().cast(
                    "array<struct<kind:string,text:string,media_ref:string,"
                    "offset:int,page:int>>").alias("spans"),
                F.lit(0).alias("n_spans"),
                F.lit(0).cast("long").alias("n_chars"),
                F.lit(C.STATUS_OVERSIZE).alias("status"))
            todo = todo.filter(size_ok)
            n = F.size("spans")
            normal = todo.filter(n <= C.DEFAULT_SKEW_THRESHOLD)
            giant = todo.filter(n > C.DEFAULT_SKEW_THRESHOLD)

            with tracer.span("extract"):
                parts = auto_partition_target(todo) or None
                normal_out = _materialise(
                    run_extract(normal, parts, auto_repartition=False),
                    f"{scratch}/extract")
            with tracer.span("skew"):
                giant_out = _materialise(
                    run_extract_skewed(giant, C.DEFAULT_SKEW_THRESHOLD),
                    f"{scratch}/skew")
            counts["skew.persisted_mb_left"] = persisted_mb(spark)
            with tracer.probe():
                for layer, inp, out in (("extract", normal, normal_out),
                                        ("skew", giant, giant_out)):
                    counts[f"{layer}.docs"] = out.count()
                    counts[f"{layer}.spans_in"] = inp.agg(spans_of).first()[0]
                counts["extract.spans_out"] = normal_out.agg(
                    F.coalesce(F.sum("n_spans"), F.lit(0))).first()[0]

            extracted = (normal_out.unionByName(giant_out)
                         .unionByName(oversize)
                         .withColumn("run_id", F.lit(run_id))
                         .withColumn("partition_id", F.spark_partition_id())
                         .withColumn("ts", F.current_timestamp()))
            with tracer.span("catalog.upsert.extracted"):
                catalog.upsert(extracted, EXTRACTED_TABLE, key="doc_id")
            this_run = catalog.read(EXTRACTED_TABLE).filter(
                F.col("run_id") == run_id)
            lineage = this_run.groupBy("run_id", "partition_id").agg(
                F.count("*").alias("docs"),
                F.sum("n_spans").alias("spans"),
                F.sum("n_chars").alias("bytes"),
                F.sum((F.col("status") == C.STATUS_FAILED).cast("long"))
                .alias("failures"),
                F.lit(int((time.time() - t0) * 1000)).alias("wall_ms"))
            with tracer.span("catalog.append.lineage"):
                catalog.append(lineage, LINEAGE_TABLE)
            with tracer.span("catalog.upsert.checkpoints"):
                catalog.upsert(this_run.select("doc_id", "run_id", "status",
                                               "ts"),
                               CHECKPOINTS_TABLE, key="doc_id")

        with tracer.span("run_chunk_indexing"):
            ext = read_extracted_latest(catalog)
            if chunk_ids is not None:
                ext = ext.filter(F.col("doc_id").isin(*chunk_ids))
            with tracer.span("chunking"):
                chunks = _materialise(build_chunks(ext), f"{scratch}/chunks")
            with tracer.probe():
                counts["chunking.docs_in"] = ext.count()
                counts["chunking.chunks_out"] = chunks.count()
            with tracer.span("catalog.replace.chunks"):
                catalog.replace_namespace(
                    chunks, CHUNKS_TABLE, key="doc_id",
                    delete_keys=ext.select("doc_id").distinct())
    return counts


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Task metrics summed per job group from the (stopped) app's event
    log: tasks, failed tasks, run ms, shuffle/spill/input bytes, completed
    stages."""
    stage_group: dict[int, str] = {}
    agg: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    stage_group[ev["Stage Info"]["Stage ID"]] = props.get(
                        "spark.jobGroup.id") or ""
                elif kind == "SparkListenerStageCompleted":
                    g = stage_group.get(ev["Stage Info"]["Stage ID"], "")
                    agg[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"], "")
                    a = agg[g]
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    a["tasks"] += 1
                    a["tasks_failed"] += bool(info.get("Failed"))
                    a["run_ms"] += m.get("Executor Run Time", 0)
                    a["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}
                                           ).get("Shuffle Bytes Written", 0)
                    a["spill"] += m.get("Disk Bytes Spilled", 0)
                    a["input"] += (m.get("Input Metrics") or {}
                                   ).get("Bytes Read", 0)
    return agg


def layer_metrics(tracer: Tracer, groups: dict[str, dict], slots: int,
                  counts: dict[str, float]) -> dict[str, float]:
    """The per-layer metrics of BENCHMARK.json from spans, event-log
    groups and the traced job's counts."""
    def tasks(layer: str) -> dict[str, float]:
        tot: dict[str, float] = defaultdict(float)
        for name in LAYER_SPANS[layer]:
            for k, v in groups.get(name, {}).items():
                tot[k] += v
        return tot

    out: dict[str, float] = {}
    for layer in ("extract", "skew", "chunking"):
        wall = tracer.wall(layer)
        t = tasks(layer)
        out[f"{layer}.wall_s"] = wall
        out[f"{layer}.task_s"] = t["run_ms"] / 1000
        out[f"{layer}.slot_util"] = t["run_ms"] / 1000 / (wall * slots)
        if layer != "chunking":
            out[f"{layer}.gc_s"] = tracer.gc_s(layer)
            out[f"{layer}.tasks"] = t["tasks"]
    sk = tasks("skew")
    out["skew.shuffle_write_mb"] = sk["shuffle_write"] / MB
    out["skew.spill_mb"] = sk["spill"] / MB
    out["resume.wall_s"] = tracer.wall("resume")
    out["catalog.upsert_s"] = (tracer.wall("catalog.upsert.extracted")
                               + tracer.wall("catalog.upsert.checkpoints"))
    out["catalog.append_s"] = tracer.wall("catalog.append.lineage")
    out["catalog.replace_s"] = tracer.wall("catalog.replace.chunks")
    cat = tasks("catalog")
    out["catalog.read_mb"] = cat["input"] / MB
    out["catalog.tasks"] = cat["tasks"]
    # the traced job's own groups: not the benchmark's probes, nor the
    # untraced warm-up and timed jobs, which ran without a group
    traced = {s["name"] for s in tracer.spans}
    job = {k: sum(g.get(k, 0) for name, g in groups.items() if name in traced)
           for k in ("tasks_failed", "stages", "shuffle_write")}
    out["spark.tasks_failed"] = job["tasks_failed"]
    out["spark.stages"] = job["stages"]
    out["spark.shuffle_write_mb"] = job["shuffle_write"] / MB
    out.update(counts)
    return out


def wall_shares(tracer: Tracer) -> dict[str, float]:
    total = tracer.wall("job")
    return {layer: sum(tracer.wall(s) for s in names) / total
            for layer, names in LAYER_SPANS.items()}
