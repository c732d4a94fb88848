"""Spans around the calls into each layer, recorded from outside the package.

A :class:`Tracer` keeps spans in memory (name, start, end, parent, op
id, counts) and writes them as JSONL at the end. Each span runs under
its own Spark job group, so ``SparkContext.statusTracker()`` attributes
jobs, stages and tasks to the innermost open span.

:func:`install` wraps the public functions of each layer at the module
attribute the pipelines call them through. Spark layers are lazy: a
wrapper forces the layer's output to the ``noop`` sink inside the
layer's span, so the span holds that layer plus the prefix it consumes.
The summarizer subtracts the prefix span (``prefix`` below) to get the
layer's self time. The forced executions are extra work; the benchmark
reports the traced-minus-untraced op time as tracing overhead.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# plan nodes that run Python workers
_PYTHON_NODES = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapGroupsInArrow|FlatMapCoGroupsInPandas|"
    r"AggregateInPandas|WindowInPandas)\b"
)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op_id: int | None = None
        self.paused = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        rec = {"id": sid, "name": name, "parent": parent, "op": self.op_id, **attrs}
        self.spans.append(rec)
        self.stack.append(sid)
        self.sc.setJobGroup(f"perfbench-{sid}", name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            rec.update(self._spark_counts(f"perfbench-{sid}"))
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent}", self.spans[parent]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _spark_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = set()
        tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                if s in stages:
                    continue
                stages.add(s)
                si = st.getStageInfo(s)
                if si is not None:
                    tasks += si.numTasks
                    failed += si.numFailedTasks
        return {"spark_jobs": len(jobs), "spark_stages": len(stages),
                "spark_tasks": tasks, "spark_failed_tasks": failed}

    def force(self, df: DataFrame, rec: dict) -> None:
        """Run ``df`` to the noop sink, counting its rows in the same pass."""
        obs = Observation(f"perfbench_{rec['id']}")
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
            "overwrite"
        ).save()
        rec["rows"] = int(obs.get["rows"])

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def python_stages(df: DataFrame) -> int:
    """Python-worker nodes in the physical plan of ``df``."""
    return len(_PYTHON_NODES.findall(df._jdf.queryExecution().executedPlan().toString()))


def last_scan_partitions(spark) -> int | None:
    """'number of partitions read' of the last SQL execution's file scans."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    if execs.size() == 0:
        return None
    eid = execs.apply(execs.size() - 1).executionId()
    values = store.executionMetrics(eid)
    nodes = store.planGraph(eid).allNodes()
    total = None
    for i in range(nodes.size()):
        ms = nodes.apply(i).metrics()
        for j in range(ms.size()):
            m = ms.apply(j)
            if m.name() == "number of partitions read":
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    total = (total or 0) + int(re.sub(r"[^0-9]", "", v.get()) or 0)
    return total


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet") or n.endswith(".json"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _patch(patches: list, owner, attr: str, wrapper_factory) -> None:
    orig = getattr(owner, attr)
    patches.append((owner, attr, orig))
    setattr(owner, attr, wrapper_factory(orig))


def install(tracer: Tracer) -> list:
    """Wrap every layer's public entry points; returns the undo list."""
    import hand_index_spark.operators.assign as assign_mod
    import hand_index_spark.operators.dedup as dedup_mod
    import hand_index_spark.operators.encode as encode_mod
    import hand_index_spark.pipelines.build_index as build_mod
    import hand_index_spark.pipelines.ingest_pages as ingest_mod
    import hand_index_spark.pipelines.query_roi as roi_mod
    from hand_index_spark.tables.icelite import IceliteTable

    t = tracer
    patches: list = []

    def forced(name: str, prefix: str | None = None, plan: bool = False):
        """Lazy layer: the span forces the returned frame to noop."""

        def factory(orig):
            def wrapper(*args, **kwargs):
                if t.paused:
                    return orig(*args, **kwargs)
                with t.span(name, prefix=prefix) as rec:
                    out = orig(*args, **kwargs)
                    t.force(out, rec)
                    if plan:
                        rec["python_stages"] = python_stages(out)
                return out

            return wrapper

        return factory

    def eager(name: str, result=None):
        """Eager layer: the span covers the call; ``result`` adds counts."""

        def factory(orig):
            def wrapper(*args, **kwargs):
                if t.paused:
                    return orig(*args, **kwargs)
                with t.span(name) as rec:
                    out = orig(*args, **kwargs)
                    if result is not None:
                        rec.update(result(out))
                return out

            return wrapper

        return factory

    # operators.encode: with_geotag + with_cells, the prefix of assign
    _patch(patches, encode_mod, "with_cells", forced("operators.encode"))
    # operators.skew: the hot-cell sketch runs its own actions
    _patch(patches, ingest_mod, "detect_hot_cells",
           eager("operators.skew.detect", lambda hot: {"hot_cells": len(hot)}))
    # operators.assign: the fused PIP/kNN/S2 Arrow UDF over the encoded pages
    _patch(patches, assign_mod, "assign_tiles",
           forced("operators.assign", prefix="operators.encode", plan=True))

    # operators.union_agg over the J7-deduped rows (its input is forced first)
    def union_factory(orig):
        def wrapper(df, *args, **kwargs):
            with t.span("pipelines.build_index.dedup_input") as rec:
                t.force(df, rec)
            with t.span("operators.union_agg", prefix="pipelines.build_index.dedup_input") as rec:
                out = orig(df, *args, **kwargs)
                counts = {r[0]: r[1] for r in out.groupBy("union_method").count().collect()}
                rec["rows"] = sum(counts.values())
                rec["dissolved"] = counts.get("dissolve", 0)
            return out

        return wrapper

    _patch(patches, build_mod, "union_branches", union_factory)
    _patch(patches, build_mod, "build_catchments", forced("pipelines.build_index.build_catchments"))

    _patch(patches, build_mod, "build_index", eager("pipelines.build_index"))

    # tables.icelite: wall of IceliteTable.write vs the snapshot's own wall_ms
    def write_factory(orig):
        def wrapper(self, df, *args, **kwargs):
            if t.paused:
                return orig(self, df, *args, **kwargs)
            table = os.path.basename(self.base)
            with t.span("tables.icelite.write", table=table,
                        stage=kwargs.get("stage", "write")) as rec:
                snap = orig(self, df, *args, **kwargs)
                out_dir = os.path.join(self.data_dir, snap["data_paths"][-1])
                rec["data_write_s"] = snap["wall_ms"] / 1000.0
                rec["files_written"], rec["bytes_written"] = _dir_stats(out_dir)
                rec["hive_partitions"] = sum(1 for d in os.listdir(out_dir) if "=" in d)
            return snap

        return wrapper

    _patch(patches, IceliteTable, "write", write_factory)

    # pipelines.query_roi: pruned scan + bbox prefilter, refine, attrs, write
    def candidates_factory(orig):
        def wrapper(*args, **kwargs):
            if t.paused:
                return orig(*args, **kwargs)
            with t.span("pipelines.query_roi.candidates") as rec:
                out = orig(*args, **kwargs)
                t.force(out, rec)
                rec["partitions_read"] = last_scan_partitions(t.spark)
            return out

        return wrapper

    _patch(patches, roi_mod, "roi_candidates", candidates_factory)
    _patch(patches, roi_mod, "threshold_filter",
           forced("operators.overlap", prefix="pipelines.query_roi.candidates", plan=True))

    def roi_query_factory(orig):
        def wrapper(spark, catchments, roi, *args, **kwargs):
            with t.span("pipelines.query_roi.roi_query") as rec:
                kept, attrs, stats = orig(spark, catchments, roi, *args, **kwargs)
            # untraced stats-off twin: the difference is the eager stats actions
            t.paused = True
            try:
                with t.span("pipelines.query_roi.stats_off"):
                    orig(spark, catchments, roi, *args, **{**kwargs, "collect_stats": False})
            finally:
                t.paused = False
            with t.span("pipelines.query_roi.kept") as krec:
                t.force(kept, krec)
            with t.span("pipelines.query_roi.attrs", prefix="pipelines.query_roi.kept") as arec:
                t.force(attrs, arec)
            rec["kept"] = stats.get("final")
            return kept, attrs, stats

        return wrapper

    _patch(patches, roi_mod, "roi_query", roi_query_factory)

    def write_results_factory(orig):
        def wrapper(kept, attrs, out_dir):
            with t.span("pipelines.query_roi.write_results") as rec:
                orig(kept, attrs, out_dir)
                rec["files_written"], rec["bytes_written"] = _dir_stats(out_dir)

        return wrapper

    _patch(patches, roi_mod, "write_results", write_results_factory)

    # operators.dedup: the stages the corpus pipeline calls
    _patch(patches, dedup_mod, "_signatures_from_sets", forced("operators.dedup.signatures"))
    _patch(patches, dedup_mod, "salted_buckets_from_sig", eager("operators.dedup.banding"))
    _patch(patches, dedup_mod, "pairs_from_salted", forced("operators.dedup.self_join"))
    _patch(patches, dedup_mod, "jaccard_refine",
           forced("operators.dedup.verify", prefix="operators.dedup.self_join"))
    _patch(patches, dedup_mod, "min_label_components", forced("operators.dedup.components"))
    return patches


def uninstall(patches: list) -> None:
    for owner, attr, orig in reversed(patches):
        setattr(owner, attr, orig)
