"""Traced run: per-layer cost of one `run_batch`.

The public functions that `run_batch` composes are called here one by one,
in its order and with its arguments. Each call runs under its own Spark job
group and is materialized once (persist + count), so its wall time and the
executor time Spark's status store records for the group belong to that
layer alone. The pass runs at the workload's size and on a quarter of it;
the two sizes give each span a fixed cost and a cost per doc.

The traced pass must build the same KG as `run_batch`: its triples are
compared with the untraced batches', so a change to the composition in
`reach_spark/pipeline.py` that this file does not follow fails the run.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from unittest import mock

SPANS = ("pipeline.resume", "mentions.extract", "grounding.map",
         "grounding.join", "coref.links", "coref.resolve", "context.assign",
         "triples.occurrences", "canonicalize.edges", "canonicalize.cc",
         "pipeline.writes", "triples.assemble")
SPAN_FIELDS = {"wall_s": "s", "task_s": "s", "cpu_s": "s",
               "shuffle_write_bytes": "B", "tasks": "count",
               "rows_out": "rows", "fixed_s": "s", "us_per_doc": "us"}
SLICE = 0.25            # the small size of the fixed-cost fit
PYTHON_SAMPLE = 200     # sentences timed in the single-thread probe


class Tracer:
    """Spans (name, parent, start, end) kept in memory; each span's Spark
    jobs run under a job group of their own."""

    def __init__(self, spark, tag: str):
        self.sc = spark.sparkContext
        self.tag = tag
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        sp = {"name": name, "parent": parent and parent["name"],
              "group": f"perfbench-{self.tag}-{name}"}
        self.sc.setJobGroup(sp["group"], name)
        self._open.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            sp["wall_s"] = sp["end"] - sp["start"]
            self._open.pop()
            self.sc.setJobGroup(parent["group"] if parent else
                                f"perfbench-{self.tag}", "untraced")
            self.spans.append(sp)

    def read_stage_metrics(self) -> None:
        """Executor time, JVM CPU time, shuffle bytes, tasks and jobs per
        span, summed over the stages of the span's job group."""
        from py4j.protocol import Py4JJavaError
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store, tracker = jsc.statusStore(), self.sc.statusTracker()
        no_tasks = self.sc._jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        for sp in self.spans:
            jobs = tracker.getJobIdsForGroup(sp["group"])
            stages = set()
            for job in jobs:
                info = tracker.getJobInfo(job)
                stages.update(int(s) for s in (info.stageIds if info else ()))
            sp.update(jobs=len(jobs), task_s=0.0, cpu_s=0.0,
                      shuffle_write_bytes=0, tasks=0)
            for stage in stages:
                try:
                    attempts = store.stageData(stage, False, no_tasks, False,
                                               no_quantiles)
                except Py4JJavaError:
                    continue  # evicted from the status store
                for i in range(attempts.size()):
                    d = attempts.apply(i)
                    sp["task_s"] += d.executorRunTime() / 1e3
                    sp["cpu_s"] += d.executorCpuTime() / 1e9
                    sp["shuffle_write_bytes"] += d.shuffleWriteBytes()
                    sp["tasks"] += d.numCompleteTasks()


def _materialize(df, sp: dict):
    df = df.persist()
    sp["rows_out"] = df.count()
    return df


def traced_batch(spark, tracer: Tracer, docs_path: str, out_dir: str,
                 max_doc_spans: int) -> dict:
    """run_batch(spark, docs, out_dir, resume=True, max_doc_spans=...) with
    extract_dataframe's defaults, one span per layer call, into an
    `out_dir` already emptied or holding the KG to resume. Returns the
    pass's totals."""
    from pyspark.sql import functions as F
    from reach_spark import (canonicalize, context_ops, coref, grounding,
                             mentions, pipeline, triples)

    documents = spark.read.parquet(docs_path)
    ckpt_path = os.path.join(out_dir, "checkpoint_docs")
    cached = []
    t0 = time.perf_counter()

    with tracer.span("pipeline.resume") as sp:
        todo = documents
        if os.path.exists(ckpt_path):
            done = spark.read.parquet(ckpt_path).select("doc_id")
            todo = documents.join(done, "doc_id", "left_anti")
        todo = _materialize(todo, sp)
        cached.append(todo)
    n_docs = sp["rows_out"]
    docs = todo.withColumn("spans", F.slice("spans", 1, max_doc_spans))

    with tracer.span("mentions.extract") as sp:
        ments = _materialize(mentions.extract_document_mentions(docs), sp)
    groundable = ((F.col("kind") == "tbm") &
                  ~F.col("label").startswith("Generic"))
    with tracer.span("grounding.map") as sp:
        kb = grounding.kb_dataframe(spark)
        gmap = _materialize(grounding.ground_map(ments.where(groundable), kb),
                            sp)
    t_hit = time.perf_counter()  # a probe, not part of the pass
    kb_hit_frac = (gmap.where(F.col("g_ns") != "uaz").count() /
                   max(sp["rows_out"], 1))
    untimed = time.perf_counter() - t_hit
    with tracer.span("grounding.join") as sp:
        # the join-back is inline in pipeline.extract_dataframe
        gkey = F.concat_ws("\x01", "canonical", "label", "text")
        gmap_keyed = gmap.select(gkey.alias("_gkey"),
                                 "g_ns", "g_id", "g_species")
        grounded = _materialize(
            ments.withColumn("canonical",
                             F.when(groundable,
                                    F.coalesce("canonical", F.lower("text")))
                             .otherwise(F.col("canonical")))
            .withColumn("_gkey", F.when(groundable, gkey))
            .join(F.broadcast(gmap_keyed), "_gkey", "left")
            .drop("_gkey"), sp)
    with tracer.span("coref.links") as sp:
        links = _materialize(coref.coref_links(grounded), sp)
    with tracer.span("coref.resolve") as sp:
        resolved = _materialize(coref.resolve_mentions(grounded, links), sp)
    with tracer.span("context.assign") as sp:
        context = _materialize(context_ops.assign_context(grounded), sp)
    with tracer.span("triples.occurrences") as sp:
        occ = _materialize(triples.build_triple_occurrences(
            resolved, context, gmap=gmap), sp)
    with tracer.span("canonicalize.edges") as sp:
        edges = _materialize(canonicalize.alias_edges(grounded, links), sp)
    with tracer.span("canonicalize.cc") as sp:
        # canonical_entities on the edges materialized above, so this span
        # holds the connected-components loop and the component rollup
        with mock.patch.object(canonicalize, "alias_edges",
                               lambda *_: edges):
            entities = _materialize(
                canonicalize.canonical_entities(grounded, links), sp)
    cached += [ments, gmap, grounded, links, resolved, context, occ, edges,
               entities]

    with tracer.span("pipeline.writes") as sp:
        rows = 0
        for name, df in (("mentions", grounded), ("triple_occurrences", occ),
                         ("canonical_entities", entities)):
            path = os.path.join(out_dir, name)
            writer = df.write.mode("append" if name != "canonical_entities"
                                   else "overwrite")
            if name == "triple_occurrences":
                writer = writer.partitionBy("pred")
            writer.parquet(path)
            pipeline.partition_metrics(spark.read.parquet(path), name) \
                .withColumn("wall_s", F.lit(time.perf_counter() - t0)) \
                .write.mode("append").parquet(
                    os.path.join(out_dir, "metrics"))
            rows += spark.read.parquet(path).count()
        with tracer.span("triples.assemble") as asp:
            tri_path = os.path.join(out_dir, "triples")
            triples.assemble_triples(spark.read.parquet(
                os.path.join(out_dir, "triple_occurrences"))) \
                .write.mode("overwrite").partitionBy("pred").parquet(tri_path)
            asp["rows_out"] = spark.read.parquet(tri_path).count()
        # last, as in run_batch: the append re-caches every table whose
        # lineage reads the checkpoint
        todo.select("doc_id").write.mode("append").parquet(ckpt_path)
        sp["rows_out"] = rows
    total = time.perf_counter() - t0 - untimed
    for df in cached:
        df.unpersist()
    return {"docs": n_docs, "total_s": total, "kb_hit_frac": kb_hit_frac,
            "n_input": documents.count()}


def python_costs(sentences: list[str]) -> dict[str, float]:
    """Single-thread µs per sentence of annotation and of the extraction
    cascade, called directly on a sample of distinct sentences (no Spark,
    no memo)."""
    from reach_spark.extract import SentenceExtractor, annotate_sentence
    from reach_spark.resources import entity_dictionary
    distinct = sorted(set(sentences))
    step = max(1, len(distinct) // PYTHON_SAMPLE)
    sample = distinct[::step][:PYTHON_SAMPLE]
    dictionary = entity_dictionary()

    def extract(ann):
        return SentenceExtractor("", 0, ann, dictionary,
                                 emit_generic=True).run()

    for s in sample[:20]:  # first calls compile regexes and fill lru caches
        extract(annotate_sentence(s))
    t0 = time.perf_counter()
    anns = [annotate_sentence(s) for s in sample]
    t1 = time.perf_counter()
    for ann in anns:
        extract(ann)
    t2 = time.perf_counter()
    return {"annotate": (t1 - t0) / len(sample) * 1e6,
            "extract": (t2 - t1) / len(sample) * 1e6}


def _fit(full: dict, small: dict, n_full: int, n_small: int) -> tuple:
    """Fixed cost (s) and marginal cost (µs/doc) of a span's wall time
    from its two sizes."""
    per_doc = (full["wall_s"] - small["wall_s"]) / max(n_full - n_small, 1)
    return full["wall_s"] - per_doc * n_full, per_doc * 1e6


def traced_metrics(bench, session_s: float, costs: dict,
                   trace_dir: str) -> tuple[dict, bool]:
    """Per-layer metrics {name: (value, unit)} for the bench's workload,
    and whether the traced pass reproduced the untraced KG."""
    spark, wl, work = bench.spark, bench.wl, bench.work
    small = wl.scaled(SLICE, keep_base=True)
    small_path = bench.write_docs(wl, small.n_docs, bench.seed,
                                  os.path.join(work, "docs_small"))
    passes = {}
    for tag, path in (("full", bench.docs_path), ("small", small_path)):
        tracer = Tracer(spark, tag)
        out = os.path.join(work, f"traced_{tag}")
        bench.fresh_out(out, bench.base_dir)
        totals = traced_batch(spark, tracer, path, out, bench.max_doc_spans)
        tracer.read_stage_metrics()
        passes[tag] = (tracer, totals, out)
    tracer, totals, out = passes["full"]
    small_tracer, small_totals, _ = passes["small"]

    digests = {name: bench.digest(os.path.join(out, name))
               for name in bench.reference}
    ok = digests == bench.reference

    spans = {sp["name"]: sp for sp in tracer.spans}
    small_spans = {sp["name"]: sp for sp in small_tracer.spans}
    n, n_small = totals["docs"], small_totals["docs"]
    for name, sp in spans.items():
        sp["fixed_s"], sp["us_per_doc"] = _fit(sp, small_spans[name],
                                              n, n_small)
    top_wall = sum(sp["wall_s"] for sp in tracer.spans if not sp["parent"])
    batch_s = statistics.median(bench.walls)

    new_docs = spark.read.parquet(bench.docs_path)
    if bench.base_dir:
        new_docs = new_docs.join(
            spark.read.parquet(os.path.join(bench.base_dir,
                                            "checkpoint_docs")),
            "doc_id", "left_anti")
    sents = bench.sentences(new_docs)
    distinct_frac = len(set(sents)) / len(sents)
    py = python_costs(sents)
    ext = spans["mentions.extract"]
    task_us = ext["task_s"] / len(sents) * 1e6
    cascade_us = (py["extract"] + py["annotate"]) * distinct_frac
    rec = bench.record

    metrics = {}
    for name in SPANS:
        for fld, unit in SPAN_FIELDS.items():
            metrics[f"{name}.{fld}"] = (spans[name][fld], unit)
    metrics.update({
        "mentions.task_us_per_sentence": (task_us, "us"),
        "mentions.udf_boundary_frac":
            (min(1.0, max(0.0, 1 - cascade_us / task_us)), "1"),
        "extract.python_us_per_sentence": (py["extract"], "us"),
        "annotate.python_us_per_sentence": (py["annotate"], "us"),
        "grounding.kb_load_s": (costs["kb_load_s"], "s"),
        "grounding.map.kb_hit_frac": (totals["kb_hit_frac"], "1"),
        "coref.us_per_doc": ((spans["coref.links"]["wall_s"] +
                              spans["coref.resolve"]["wall_s"]) / n * 1e6,
                             "us"),
        "canonicalize.cc.jobs": (spans["canonicalize.cc"]["jobs"], "count"),
        "pipeline.resume.skipped_frac": (1 - n / totals["n_input"], "1"),
        "pipeline.residual_s": (totals["total_s"] - top_wall, "s"),
        "session.start_s": (session_s, "s"),
        "setup.warmup_s": (costs["warmup_s"], "s"),
        "traced.coverage": (top_wall / batch_s, "1"),
        # a fresh run's canonical_entities is the from-scratch table itself
        "incremental.entities_match":
            (float(rec.get("entities_match", True)), "1"),
        "workload.docs": (rec["docs"], "count"),
        "workload.sentences": (rec["sentences"], "count"),
        "workload.sentences_per_doc": (rec["sentences_per_doc"], "count"),
        "workload.distinct_sentence_frac":
            (rec["distinct_sentence_frac"], "1"),
        "workload.mentions": (rec["mentions"], "count"),
        "workload.triples": (rec["triples"], "count"),
    })

    os.makedirs(trace_dir, exist_ok=True)
    dump = os.path.join(trace_dir, f"{bench.wl_name}-seed{bench.seed}.json")
    with open(dump, "w") as fh:
        json.dump({"spans": {tag: p[0].spans for tag, p in passes.items()},
                   "docs": {"full": n, "small": n_small},
                   "digests_match": ok}, fh, indent=1)
    rec["trace_file"] = os.path.relpath(dump)
    return metrics, ok
