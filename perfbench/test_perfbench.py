"""Tests of the benchmark's own generators and metric names.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import numpy as np  # noqa: E402

import gen  # noqa: E402
import run  # noqa: E402
import summarize  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _declared() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def _inputs(seed: int) -> dict:
    b = gen.branches(seed, 40)
    return {
        "pages": gen.pages(seed, 500),
        "branches": b,
        "rois": gen.rois(seed, 6, b["box"], 40),
    }


def test_same_seed_same_fingerprint():
    for key in ("pages", "branches", "rois"):
        assert gen.fingerprint(_inputs(7)[key]) == gen.fingerprint(_inputs(7)[key]), key


def test_other_seed_other_fingerprint():
    a, b = _inputs(7), _inputs(8)
    for key in ("pages", "branches", "rois"):
        assert gen.fingerprint(a[key]) != gen.fingerprint(b[key]), key


def test_pages_families_are_disjoint():
    p = gen.pages(3, 1000)
    fam_tokens: dict[int, set] = {}
    for i, text in enumerate(p["text"]):
        fam_tokens.setdefault(i // gen.DOC_GROUP, set()).update(text.split()[:-1])
    seen: set = set()
    for toks in fam_tokens.values():
        assert not (toks & seen)
        seen |= toks
    assert len(set(p["url"])) == len(p["url"])


def test_pages_have_an_urban_hot_cell():
    from hand_index_spark.tables import tilegrid as tg

    p = gen.pages(3, 2500)
    lat, lon = tg.doc_latlon_numpy(p["doc_id"])
    cells, counts = np.unique(np.stack([np.floor(lon), np.floor(lat)], axis=1),
                              axis=0, return_counts=True)
    assert len(cells) == gen.REGION_W * gen.REGION_H
    first, second = np.argsort(counts)[::-1][:2]
    assert tuple(cells[first]) == p["hot_cells"][0]
    assert counts[first] > 2 * counts[second]


def test_workload_names_match_benchmark_json():
    from workloads import WORKLOADS

    assert {w["name"] for w in _declared()["workloads"]} == set(WORKLOADS)


def test_end_to_end_metrics_are_declared():
    declared = {m["name"]: m["unit"] for m in _declared()["end_to_end"]}
    res = {"lat": [1.0, 2.0, 4.0], "items": 30}
    emitted = run.end_to_end(5.0, 100.0, res, 1000, 10)
    assert set(emitted) == set(declared) == set(run.END_TO_END)
    for name, value in emitted.items():
        assert NAME.fullmatch(name), name
        assert value > 0, name
        assert run.END_TO_END[name] == declared[name], name


def test_per_layer_metrics_are_declared():
    declared = {m["name"]: m["unit"] for m in _declared()["per_layer"]}
    spans = [
        {"id": 0, "name": "op", "parent": None, "op": 0, "start": 0.0, "end": 3.0,
         "spark_jobs": 2, "spark_stages": 3, "spark_tasks": 8, "spark_failed_tasks": 0},
        {"id": 1, "name": "operators.encode", "parent": 0, "op": 0, "start": 0.1, "end": 0.5,
         "rows": 10, "spark_jobs": 1, "spark_stages": 1, "spark_tasks": 4, "spark_failed_tasks": 0},
        {"id": 2, "name": "operators.assign", "parent": 0, "op": 0, "start": 0.6, "end": 1.6,
         "prefix": "operators.encode", "rows": 10, "python_stages": 1,
         "spark_jobs": 1, "spark_stages": 1, "spark_tasks": 4, "spark_failed_tasks": 0},
    ]
    extras = {"kernel_rows_per_s": 1e6, "kernel_rows": 1000, "knn_frac": 0.1,
              "untraced_p50_s": 2.5, "traced_p50_s": 3.0,
              "page_touch_ms": 20.0, "cpu_mops": 20.0,
              "roi": {"roi.latency_p50_s": (1.0, "x")}}
    emitted = summarize.per_layer(spans, extras)
    assert set(emitted) == set(declared) == set(summarize.UNITS)
    for name in emitted:
        assert NAME.fullmatch(name), name
        assert summarize.UNITS[name] == declared[name], name
    assert abs(emitted["assign.s"][0] - 0.6) < 1e-9  # 1.0 s span minus the 0.4 s prefix
    assert emitted["union.s"] == (0.0, "not called")
