"""Turn a traced run's spans into the per-layer table.

Usage: python3 perfbench/summarize.py spans.jsonl

A span's duration is ``end - start``. A forced lazy layer's time is its
duration minus the duration of its ``prefix`` span (the latest earlier
span of that name in the same operation), because forcing the layer
re-runs the prefix it consumes. Each metric is summed within an
operation, then the median over operations is taken; ratios are summed
over all operations and printed with their base.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict

# per_layer metric -> unit; the traced run reports exactly these
UNITS = {
    "encode.s": "s",
    "skew.detect_s": "s",
    "skew.hot_cells": "count",
    "assign.s": "s",
    "assign.kernel_rows_per_s": "1/s",
    "assign.knn_frac": "ratio",
    "assign.python_stages": "count",
    "icelite.write_s": "s",
    "icelite.data_write_s": "s",
    "icelite.commit_overhead_s": "s",
    "icelite.files_written": "count",
    "icelite.bytes_written": "B",
    "icelite.snapshots": "count",
    "union.s": "s",
    "union.dissolve_frac": "ratio",
    "build.catchments_s": "s",
    "build.index_s": "s",
    "build.partitions": "count",
    "roi.latency_p50_s": "s",
    "roi.latency_tail_s": "s",
    "roi.empty_latency_p50_s": "s",
    "roi.candidates_s": "s",
    "roi.candidate_rows": "count",
    "roi.pruned_frac": "ratio",
    "roi.stats_s": "s",
    "roi.attrs_s": "s",
    "roi.python_stages": "count",
    "roi.write_s": "s",
    "roi.write_s_per_kept": "s",
    "overlap.refine_s": "s",
    "roi.kept_frac": "ratio",
    "dedup.signatures_s": "s",
    "dedup.self_join_s": "s",
    "dedup.verify_s": "s",
    "dedup.components_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_frac": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "trace.overhead_s": "s",
    "weather.page_touch_ms": "ms",
    "weather.cpu_mops": "Mops",
}


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def layer_times(spans: list[dict]) -> list[dict]:
    """Add ``self`` (duration minus direct children) and ``layer``
    (duration minus the prefix span) to every span."""
    children = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]] += _dur(s)
    latest: dict[tuple, dict] = {}
    out = []
    for s in sorted(spans, key=lambda s: s["start"]):
        s = dict(s)
        s["self"] = _dur(s) - children[s["id"]]
        pre = latest.get((s["op"], s.get("prefix")))
        s["layer"] = _dur(s) - (_dur(pre) if pre else 0.0)
        latest[(s["op"], s["name"])] = s
        out.append(s)
    return out


def _per_op(spans: list[dict]) -> dict[int, list[dict]]:
    ops = defaultdict(list)
    for s in spans:
        if s["op"] is not None:
            ops[s["op"]].append(s)
    return ops


def per_layer(spans: list[dict], extras: dict) -> dict[str, tuple[float, str]]:
    """The per-layer metrics with their bases, as {name: (value, base)}.

    ``extras`` carries what is measured outside the spans: the NumPy
    kernel rate, the kNN share, the per-query ROI latencies, the
    untraced op median and the weather probes. A layer the workload
    never calls reads 0 with base "not called"."""
    spans = layer_times(spans)
    ops = _per_op(spans)
    n_ops = len(ops)

    def med(fn) -> float:
        return statistics.median(fn(ss) for ss in ops.values()) if ops else 0.0

    def total(name, key="layer"):
        return lambda ss: sum(s[key] for s in ss if s["name"] == name)

    def attr(name, key):
        return lambda ss: sum(s.get(key) or 0 for s in ss if s["name"] == name)

    def ratio(num, den) -> tuple[float, str]:
        a = sum(num(ss) for ss in ops.values())
        b = sum(den(ss) for ss in ops.values())
        return (a / b if b else 0.0, f"{a:g} / {b:g} over {n_ops} ops" if b else "not called")

    def per_plan(name, key) -> float:
        xs = [s[key] for s in spans if s["name"] == name and key in s]
        return statistics.median(xs) if xs else 0.0

    def called(name) -> bool:
        return any(s["name"] == name for s in spans)

    m: dict[str, tuple[float, str]] = {}

    def put(key, value, base=None, layer=None):
        if layer is not None and not called(layer):
            m[key] = (0.0, "not called")
        else:
            m[key] = (float(value), base or f"median of {n_ops} ops")

    put("encode.s", med(total("operators.encode")), layer="operators.encode")
    put("skew.detect_s", med(total("operators.skew.detect")), layer="operators.skew.detect")
    put("skew.hot_cells", med(attr("operators.skew.detect", "hot_cells")),
        layer="operators.skew.detect")
    put("assign.s", med(total("operators.assign")),
        "assign span minus encode span", layer="operators.assign")
    put("assign.kernel_rows_per_s", extras["kernel_rows_per_s"],
        f"assign_batch on {extras['kernel_rows']} fixed points, one thread")
    m["assign.knn_frac"] = (
        (extras["knn_frac"], "knn rows / assigned rows of the last op")
        if extras.get("knn_frac") is not None else (0.0, "not called")
    )
    put("assign.python_stages", per_plan("operators.assign", "python_stages"),
        "median over assign plans", layer="operators.assign")

    w = "tables.icelite.write"
    write_s = med(total(w, "self"))
    data_s = med(attr(w, "data_write_s"))
    put("icelite.write_s", write_s, layer=w)
    put("icelite.data_write_s", data_s, layer=w)
    put("icelite.commit_overhead_s",
        med(lambda ss: total(w, "self")(ss) - attr(w, "data_write_s")(ss)), layer=w)
    put("icelite.files_written", med(attr(w, "files_written")), layer=w)
    put("icelite.bytes_written", med(attr(w, "bytes_written")), layer=w)
    put("icelite.snapshots", med(lambda ss: sum(1 for s in ss if s["name"] == w)), layer=w)

    u = "operators.union_agg"
    put("union.s", med(total(u)), "union span minus its deduped-input span", layer=u)
    m["union.dissolve_frac"] = ratio(attr(u, "dissolved"), attr(u, "rows"))
    bc = "pipelines.build_index.build_catchments"
    put("build.catchments_s", med(total(bc, "self")), "noop span minus traced children", layer=bc)
    put("build.index_s",
        med(lambda ss: total("pipelines.build_index", "self")(ss)
            + sum(_dur(s) for s in ss if s["name"] == w)),
        "build_index wall minus the traced build_catchments span", layer="pipelines.build_index")
    put("build.partitions",
        med(lambda ss: sum(s.get("hive_partitions") or 0 for s in ss
                           if s["name"] == w and s.get("table") == "catchments")),
        layer="pipelines.build_index")

    for key in ("roi.latency_p50_s", "roi.latency_tail_s", "roi.empty_latency_p50_s"):
        m[key] = tuple(extras["roi"][key]) if key in extras.get("roi", {}) else (0.0, "not called")
    c = "pipelines.query_roi.candidates"
    put("roi.candidates_s", med(total(c)), layer=c)
    put("roi.candidate_rows", med(attr(c, "rows")), layer=c)
    if called(c):
        # each candidates scan could read every hive partition of the
        # catchments table the same operation wrote
        read = sum(attr(c, "partitions_read")(ss) for ss in ops.values())
        alln = sum(
            sum(1 for s in ss if s["name"] == c)
            * sum(s.get("hive_partitions") or 0 for s in ss
                  if s["name"] == w and s.get("table") == "catchments")
            for ss in ops.values()
        )
        m["roi.pruned_frac"] = (1.0 - read / alln if alln else 0.0,
                                f"1 - {read} / {alln} hive partitions read")
    else:
        m["roi.pruned_frac"] = (0.0, "not called")
    q = "pipelines.query_roi.roi_query"
    put("roi.stats_s",
        med(lambda ss: total(q, "self")(ss) - total("pipelines.query_roi.stats_off", "self")(ss)),
        "roi_query self time minus its stats-off twin", layer=q)
    put("roi.attrs_s", med(total("pipelines.query_roi.attrs")),
        "attrs noop minus kept noop", layer=q)
    o = "operators.overlap"
    put("roi.python_stages", per_plan(o, "python_stages"), "median over kept plans", layer=o)
    wr = "pipelines.query_roi.write_results"
    put("roi.write_s", med(total(wr)), layer=wr)
    m["roi.write_s_per_kept"] = ratio(total(wr), attr(q, "kept")) if called(wr) else (0.0, "not called")
    put("overlap.refine_s", med(total(o)), "overlap span minus candidates span", layer=o)
    m["roi.kept_frac"] = ratio(attr(o, "rows"), attr(c, "rows")) if called(o) else (0.0, "not called")

    put("dedup.signatures_s", med(total("operators.dedup.signatures")),
        layer="operators.dedup.signatures")
    put("dedup.self_join_s", med(total("operators.dedup.self_join")),
        layer="operators.dedup.self_join")
    put("dedup.verify_s", med(total("operators.dedup.verify")),
        "verify span minus self-join span", layer="operators.dedup.verify")
    put("dedup.components_s", med(total("operators.dedup.components")),
        layer="operators.dedup.components")
    put("dedup.candidate_pairs", med(attr("operators.dedup.self_join", "rows")),
        layer="operators.dedup.self_join")
    m["dedup.verified_frac"] = (
        ratio(attr("operators.dedup.verify", "rows"), attr("operators.dedup.self_join", "rows"))
        if called("operators.dedup.verify") else (0.0, "not called")
    )

    for key in ("jobs", "stages", "tasks"):
        put(f"spark.{key}", med(lambda ss, k=key: sum(s[f"spark_{k}"] for s in ss)),
            "median per op over all spans")
    put("spark.failed_tasks", sum(s["spark_failed_tasks"] for s in spans), "total over the run")
    m["trace.overhead_s"] = (
        extras["traced_p50_s"] - extras["untraced_p50_s"],
        f"traced op median {extras['traced_p50_s']:.4g} s"
        f" - untraced op median {extras['untraced_p50_s']:.4g} s",
    )
    put("weather.page_touch_ms", extras["page_touch_ms"], "64 MB first-touch probe")
    put("weather.cpu_mops", extras["cpu_mops"], "single-thread add loop")
    return m


def table(metrics: dict[str, tuple[float, str]]) -> str:
    rows = [f"{'metric':<28} {'value':>14} {'unit':<6} base"]
    for k, (v, base) in metrics.items():
        rows.append(f"{k:<28} {v:>14.6g} {UNITS[k]:<6} {base}")
    return "\n".join(rows)


def main(argv: list[str]) -> None:
    spans = load(argv[0])
    meta = next((s for s in spans if s["name"] == "run"), None)
    extras = meta["extras"] if meta else {}
    print(table(per_layer([s for s in spans if s["name"] != "run"], extras)))


if __name__ == "__main__":
    main(sys.argv[1:])
