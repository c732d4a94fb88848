"""Seeded input generators for the pipeline benchmark.

Every generator is a pure function of ``seed`` (and a size): NumPy's
``default_rng`` seeded with ``[seed, stream]``, no wall clock, no files.
The pipelines only ever see the DataFrames, GeoJSON dicts and paths
built from these values. Each generator also returns the ground truth
its workload's correctness check needs.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np

from hand_index_spark.geo import albers, wkb
from hand_index_spark.tables import tilegrid as tg
from hand_index_spark.tables.datagen import _fan_triangles

# one RNG stream per generator, so resizing one input never shifts another
_PAGES, _BRANCHES, _ROIS = 1, 2, 3


def fingerprint(obj) -> str:
    """sha256 over nested lists/tuples/dicts of arrays, bytes and scalars."""
    h = hashlib.sha256()

    def feed(o):
        if isinstance(o, np.ndarray):
            h.update(str(o.dtype).encode())
            h.update(np.ascontiguousarray(o).tobytes())
        elif isinstance(o, (bytes, bytearray)):
            h.update(bytes(o))
        elif isinstance(o, dict):
            for k in sorted(o):
                h.update(repr(k).encode())
                feed(o[k])
        elif isinstance(o, (list, tuple)):
            h.update(b"[")
            for x in o:
                feed(x)
            h.update(b"]")
        else:
            h.update(repr(o).encode())

    feed(obj)
    return h.hexdigest()


# ------------------------------------------------------------------ pages

# near-duplicate families, shaped like tables.datagen.synth_neardup_docs:
# DOC_GROUP pages share DOC_TOKENS base tokens plus a variant token
# (variants repeat mod 2, so every family also has byte-identical pages)
DOC_GROUP = 5
DOC_TOKENS = 28  # ~280 bytes of text per page
_TOKEN_P = (1 << 31) - 1  # prime: a*i + b mod P is a bijection on [0, P)
# HOT_SHARE of the pages reuse one of HOT_DOCS doc_ids, Zipf-weighted,
# which lie in HOT_CELLS coarse (1 deg) city cells of the crawl region
HOT_DOCS, HOT_SHARE, HOT_CELLS = 200, 0.3, 3
REGION_W, REGION_H = 4, 3  # deg: a regional crawl over 12 coarse cells
CONUS = (-124, 25, -68, 49)  # whole-degree lon0, lat0, lon1, lat1


def _doc_ids_in_box(rng, need: int, box) -> np.ndarray:
    """``need`` distinct doc_ids whose geotag (operators.encode.geotag_cols,
    mirrored by tilegrid.doc_latlon_numpy) falls inside ``box``."""
    lon0, lat0, lon1, lat1 = box
    found: list[np.ndarray] = []
    have = 0
    while have < need:
        # < 2**31 keeps doc_id * LAT_MUL inside int64 on both sides
        cand = rng.integers(1, 1 << 31, 1 << 20, dtype=np.int64)
        lat, lon = tg.doc_latlon_numpy(cand)
        hit = cand[(lon >= lon0) & (lon < lon1) & (lat >= lat0) & (lat < lat1)]
        found.append(hit)
        have += len(hit)
    ids = np.unique(np.concatenate(found))
    return rng.permutation(ids)[:need]


def pages(seed: int, n: int) -> dict:
    """Synthetic web pages: unique ``url`` and ``page_id``, ~280 bytes of
    near-duplicate ``text``, and a ``doc_id`` that sets the geotag.

    All geotags fall in one seeded REGION_W x REGION_H degree box on
    whole degrees. HOT_SHARE of the pages reuse one of HOT_DOCS doc_ids;
    the rest have distinct doc_ids. Hot doc_ids are split by Zipf rank
    into HOT_CELLS contiguous blocks, one block per seeded city cell of
    the box (``hot_cells``, SW corners), so the first city holds about
    80% of the hot pages: an urban hot cell. Page i is in near-dup
    family i // DOC_GROUP; no two families share a base token, so the
    families are the true clusters at any Jaccard threshold above
    2 / (DOC_TOKENS + 2)."""
    rng = np.random.default_rng([seed, _PAGES])
    lon0 = int(rng.integers(CONUS[0], CONUS[2] - REGION_W + 1))
    lat0 = int(rng.integers(CONUS[1], CONUS[3] - REGION_H + 1))
    pick = rng.choice(REGION_W * REGION_H, HOT_CELLS, replace=False)
    cities = [(lon0 + int(c) % REGION_W, lat0 + int(c) // REGION_W) for c in pick]
    hot = np.concatenate([
        _doc_ids_in_box(rng, len(block), (lon, lat, lon + 1, lat + 1))
        for block, (lon, lat) in zip(np.array_split(np.arange(HOT_DOCS), HOT_CELLS), cities)
    ])
    n_hot = int(round(n * HOT_SHARE))
    box = (lon0, lat0, lon0 + REGION_W, lat0 + REGION_H)
    cold = np.setdiff1d(_doc_ids_in_box(rng, n - n_hot + HOT_DOCS, box), hot)
    cold = rng.permutation(cold)[: n - n_hot]
    w = 1.0 / np.arange(1, HOT_DOCS + 1)
    hot_pick = hot[rng.choice(HOT_DOCS, n_hot, p=w / w.sum())]
    doc_id = rng.permutation(np.concatenate([hot_pick, cold]))
    n_fam = -(-n // DOC_GROUP)
    a, b = (int(x) for x in rng.integers(1, _TOKEN_P, 2))
    tok = (np.arange(n_fam * DOC_TOKENS, dtype=np.int64) * a + b) % _TOKEN_P
    base = [" ".join(f"w{t:08x}" for t in row) for row in tok.reshape(n_fam, DOC_TOKENS).tolist()]
    text = [f"{base[i // DOC_GROUP]} v{(i % DOC_GROUP) % 2}" for i in range(n)]
    page_offset = int(rng.integers(0, 1 << 40))
    url = [f"https://s{d % 97}.example/{seed}/p{i}" for i, d in enumerate(doc_id.tolist())]
    return {
        "url": url,
        "page_id": np.arange(n, dtype=np.int64) + page_offset,
        "page_offset": page_offset,
        "doc_id": doc_id,
        "text": text,
        "hot_doc_ids": hot,
        "hot_cells": cities,
    }


# --------------------------------------------------------------- branches

# deg: the seeded region one build covers, on whole degrees. It spans
# far more coarse cells than an ROI's cover plus the 4-cell buffer
# roi_candidates adds, so an ROI inside it still skips partitions.
BUILD_W, BUILD_H = 32, 16


def branches(seed: int, n: int) -> dict:
    """``n`` branches scattered over one seeded BUILD_W x BUILD_H degree
    region (``box``), one per coarse (1 deg) cell drawn without
    replacement, so the catchments table has ``n`` hive partitions
    whatever the seed. Each is a jittered convex quad (EPSG:5070)
    split into 2-4 fan sub-polygons in one source file, plus the rows the
    build must drop: a duplicate-coverage file per branch, a ``_pixels_``
    file and a non-branch path. Also the asset-file manifest (1-3
    hydrotable CSVs per branch, rasters with seeded gaps) and the
    expected per-table row counts and per-branch areas."""
    rng = np.random.default_rng([seed, _BRANCHES])
    lon0 = float(rng.integers(CONUS[0], CONUS[2] - BUILD_W + 1))
    lat0 = float(rng.integers(CONUS[1], CONUS[3] - BUILD_H + 1))
    cell = rng.choice(BUILD_W * BUILD_H, n, replace=False)
    # centres 0.1 deg inside the cell keep the quad's centroid in it
    cx = lon0 + cell % BUILD_W + rng.uniform(0.1, 0.9, n)
    cy = lat0 + cell // BUILD_W + rng.uniform(0.1, 0.9, n)
    half = rng.uniform(0.02, 0.06, n)  # 4-12 km quads, far above the 100 m simplify
    jit = rng.uniform(0.0, 0.3, (n, 8)) * (2 * half)[:, None]
    lon = np.stack([cx - half + jit[:, 0], cx + half - jit[:, 2],
                    cx + half - jit[:, 4], cx - half + jit[:, 6]], axis=1)
    lat = np.stack([cy - half + jit[:, 1], cy - half + jit[:, 3],
                    cy + half - jit[:, 5], cy + half - jit[:, 7]], axis=1)
    x, y = albers.forward(lon.ravel(), lat.ravel())
    quads = np.stack([x.reshape(n, 4), y.reshape(n, 4)], axis=2)
    pieces = rng.integers(2, 5, n)
    n_csv = rng.integers(1, 4, n)
    has_rem = rng.random(n) >= 1 / 7
    has_crs = rng.random(n) >= 1 / 11
    tiles, manifest, paths = [], [], []
    for i in range(n):
        bp = f"s3://bench/huc{i % 23:02d}/branches/s{seed}b{i}/"
        paths.append(bp)
        quad = quads[i]
        for tri in _fan_triangles(quad, int(pieces[i])):
            tiles.append((wkb.polygon_to_wkb([tri]), bp, f"{bp}gw_catchments.gpkg"))
        whole = wkb.polygon_to_wkb([quad])
        tiles.append((whole, bp, f"{bp}gw_catchments_v2.gpkg"))
        tiles.append((whole, bp, f"{bp}gw_catchments_pixels_{i}.gpkg"))
        tiles.append((whole, f"s3://bench/other/s{seed}b{i}/", f"s3://bench/other/s{seed}b{i}/stray.gpkg"))
        manifest.extend((f"{bp}hydroTable_{j}.csv",) for j in range(int(n_csv[i])))
        if has_rem[i]:
            manifest.append((f"{bp}rem_zeroed_masked_{i}.tif",))
        if has_crs[i]:
            manifest.append((f"{bp}gw_catchments_reaches_filtered_addedAttributes_{i}.tif",))
    qx, qy = quads[:, :, 0], quads[:, :, 1]
    area = 0.5 * np.abs(np.sum(qx * np.roll(qy, -1, 1) - np.roll(qx, -1, 1) * qy, axis=1))
    return {
        "tiles_raw": tiles,
        "file_manifest": manifest,
        "branch_paths": paths,
        "box": (lon0, lat0, lon0 + BUILD_W, lat0 + BUILD_H),
        "area": area,
        "rows": {
            "catchments": n,
            "hydrotables": int(n_csv.sum()),
            "rem_rasters": int(has_rem.sum()),
            "catchment_rasters": int(has_crs.sum()),
        },
    }


# ------------------------------------------------------------ ROI queries

# kept-catchment targets per ROI class over one build's region; the ROI
# area is the target divided by the region's branch density
ROI_CLASSES = {"empty": (0, 0), "point": (2, 3), "county": (6, 8), "region": (15, 18)}


def _roi_ring(rng, shape: str, cx: float, cy: float, area: float) -> list:
    """Closed convex lon/lat ring of the given shape and area (deg^2)."""
    theta = float(rng.uniform(0.0, math.pi))
    if shape == "hexagon":
        r = math.sqrt(2.0 * area / (3.0 * math.sqrt(3.0)))
        pts = [(r * math.cos(theta + k * math.pi / 3), r * math.sin(theta + k * math.pi / 3))
               for k in range(6)]
    else:
        aspect = float(rng.uniform(0.5, 2.0))
        w, h = math.sqrt(area * aspect), math.sqrt(area / aspect)
        corners = [(-w / 2, -h / 2), (w / 2, -h / 2), (w / 2, h / 2), (-w / 2, h / 2)]
        if shape == "rectangle":
            theta = 0.0
        c, s = math.cos(theta), math.sin(theta)
        pts = [(u * c - v * s, u * s + v * c) for u, v in corners]
    ring = [[cx + u, cy + v] for u, v in pts]
    return ring + [ring[0]]


def rois(seed: int, ops: int, box: tuple, n_branches: int) -> list[list[dict]]:
    """For each operation, the two convex ROIs (rectangles, rotated quads,
    hexagons) queried against the index that operation built: one of the
    operation's class (point, county, region in turn), then the first ROI
    again on even operations, so a result cache would show only on the
    repeats, or an empty ROI (over the Pacific, off the index) on odd
    ones."""
    rng = np.random.default_rng([seed, _ROIS])
    lon0, lat0, lon1, lat1 = box
    density = n_branches / ((lon1 - lon0) * (lat1 - lat0))

    def new(cls: str) -> dict:
        shape = ("rectangle", "rotated", "hexagon")[int(rng.integers(3))]
        lo, hi = ROI_CLASSES[cls]
        if cls == "empty":
            area = float(rng.uniform(0.05, 4.0))
            cx, cy = float(rng.uniform(-150.0, -138.0)), float(rng.uniform(27.0, 47.0))
        else:
            area = float(rng.uniform(lo, hi)) / density
            m = 0.8 * math.sqrt(area)  # bounds the half-extent of every shape
            mx, my = min(m, (lon1 - lon0) / 2), min(m, (lat1 - lat0) / 2)
            cx = float(rng.uniform(lon0 + mx, lon1 - mx))
            cy = float(rng.uniform(lat0 + my, lat1 - my))
        return {
            "cls": cls,
            "repeat": False,
            "geojson": {
                "type": "Feature",
                "properties": {"class": cls},
                "geometry": {"type": "Polygon",
                             "coordinates": [_roi_ring(rng, shape, cx, cy, area)]},
            },
        }

    plan = []
    for k in range(ops):
        first = new(("point", "county", "region")[k % 3])
        plan.append([first, new("empty") if k % 2 else {**first, "repeat": True}])
    return plan
