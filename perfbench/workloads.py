"""The two workloads: set-up, one operation, and its correctness check.

Each operation calls public pipeline entry points into fresh output
roots, which are removed outside the timed region. ``check`` returns a
list of failure messages; an empty list passes.

- ``corpus``: the web-corpus jobs. One operation ingests a batch of
  pages (pipelines.ingest_pages) and then deduplicates the same pages
  (pipelines.dedup_corpus).
- ``hand_index``: the paper's two jobs. One operation builds the index
  from a batch of branches (pipelines.build_index), then answers two
  ROI queries against it the way cli/query_roi_main.py does (roi_query
  over IceliteTable.read tables, then write_results).
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import gen

# inputs per operation. An operation's time is mostly fixed cost per
# Spark job and per icelite snapshot: on a 4-core VM, ingest + dedup of
# 2,500 pages takes 9.5 s against 13 s for 10,000 pages.
PAGES_PER_OP = 2_500
BRANCHES_PER_OP = 40
ROI_PLAN_OPS = 64  # operations' worth of ROI queries generated up front
# dedup settings: the production xxhash64 token hash, 16 MinHash
# permutations in 8 bands of 2 rows, Jaccard threshold 0.2. The default
# "oracle" hash keys on token length and first/last characters only; on
# a 20k-doc synth_neardup_docs corpus it split 3,272 of 4,000 families.
DEDUP_PERMS, DEDUP_ROWS_PER_BAND = 16, 2
OVERLAP_THRESHOLD_PCT = 10.0


def du(path: str) -> int:
    total = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
    return total


class Workload:
    """``setup`` builds the inputs (repeatable, for the set-up median),
    ``warm`` runs one untimed full-size operation, ``op`` runs operation
    ``i`` and returns the items it processed, ``check`` verifies
    operation ``i``."""

    item = "items"

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.stored_bytes = 0
        self.stored_items = 0

    def out_dir(self, i) -> str:
        return os.path.join(self.work, f"op{i}")

    def cleanup(self, i) -> None:
        shutil.rmtree(self.out_dir(i), ignore_errors=True)

    def prepare_checks(self) -> None:
        """Reference results computed once, before the timed loop."""

    def run_checks(self) -> list[str]:
        """Checks of the run as a whole, made once after the timed loop."""
        return []


class Corpus(Workload):
    item = "pages"

    def setup(self):
        p = gen.pages(self.seed, PAGES_PER_OP)
        self.gen = p
        pdf = pd.DataFrame({"url": p["url"], "page_id": p["page_id"],
                            "doc_id": p["doc_id"], "text": p["text"]})
        self.pages = self.spark.createDataFrame(pdf).localCheckpoint(eager=True)
        self.input_bytes = sum(len(u.encode()) + len(t.encode()) for u, t in zip(p["url"], p["text"]))
        self.want = self._fingerprint(self.pages)

    @staticmethod
    def _fingerprint(df):
        return tuple(df.agg(
            F.count(F.lit(1)),
            F.expr("bit_xor(xxhash64(url, text))"),
            F.sum(F.length("text")),
        ).collect()[0])

    def _run(self, pages, out: str, tag: str):
        from hand_index_spark.operators import dedup as D
        from hand_index_spark.pipelines.dedup_corpus import dedup_corpus
        from hand_index_spark.pipelines.ingest_pages import ingest_pages

        self.ingest_snaps = ingest_pages(self.spark, pages, f"{out}/ingest", fingerprint=tag)
        docs = pages.select(F.col("page_id").alias("doc_id"), "text")
        dedup_corpus(
            self.spark, docs, f"{out}/dedup", fingerprint=tag,
            perms=D.perm_params(DEDUP_PERMS),
            bands=D.rows_bands(DEDUP_PERMS, DEDUP_ROWS_PER_BAND),
            hash_mode="xxhash64",
        )

    def warm(self):
        self._run(self.pages, self.out_dir("warm"), "warm")
        self.cleanup("warm")

    def op(self, i) -> int:
        self._run(self.pages, self.out_dir(i), f"op{i}")
        return PAGES_PER_OP

    def prepare_checks(self):
        """DuckDB oracle (oracles.assign_cte) over a seeded doc_id sample."""
        import duckdb

        from hand_index_spark.oracles import assign_cte

        rng = np.random.default_rng([self.seed, 99])
        sample = rng.choice(np.unique(self.gen["doc_id"]), 64, replace=False)
        self.oracle_ids = sorted({int(x) for x in sample} | {int(x) for x in self.gen["hot_doc_ids"][:8]})
        docs = pd.DataFrame({"doc_id": np.asarray(self.oracle_ids, dtype=np.int64),
                             "text": "", "lang": ""})
        con = duckdb.connect()
        try:
            con.register("documents", docs)
            res = con.execute(
                f"{assign_cte('documents')} SELECT doc_id, tile_id, method, dist2 FROM asg"
            ).fetchall()
        finally:
            con.close()
        self.oracle = {(int(a), int(b), str(c), float(d)) for a, b, c, d in res}

    def check(self, i) -> list[str]:
        from hand_index_spark.tables.icelite import IceliteTable

        out = self.out_dir(i)
        bad = []
        rows = self.ingest_snaps["assign"]["row_count"]
        if rows != PAGES_PER_OP:
            bad.append(f"assignments snapshot has {rows} rows, want {PAGES_PER_OP}")
        asg = IceliteTable(f"{out}/ingest", "assignments").read(self.spark)
        got = self._fingerprint(asg)
        if got != self.want:
            bad.append(f"(url, text) count/xor/length {got} != input {self.want}")
        self.knn = asg.agg(F.avg((F.col("method") == "knn").cast("double"))).collect()[0][0]
        got_asg = {
            tuple(r) for r in asg.filter(F.col("doc_id").isin(self.oracle_ids))
            .select("doc_id", "tile_id", "method", "dist2").distinct().collect()
        }
        if got_asg != self.oracle:
            bad.append(f"{len(got_asg ^ self.oracle)} (doc_id, tile_id, method, dist2) "
                       "rows differ from the DuckDB oracle")

        cl = IceliteTable(f"{out}/dedup", "clusters").read(self.spark).select(
            "doc_id", "cluster_id").toPandas()
        fam = (cl["doc_id"] - self.gen["page_offset"]) // gen.DOC_GROUP
        if len(cl) != PAGES_PER_OP:
            bad.append(f"clusters table has {len(cl)} docs, want {PAGES_PER_OP}")
        split = int((cl.groupby(fam)["cluster_id"].nunique() > 1).sum())
        merged = int((cl.assign(fam=fam).groupby("cluster_id")["fam"].nunique() > 1).sum())
        if split or merged:
            bad.append(f"dedup: {split} families split, {merged} clusters span families")
        self.stored_bytes += du(f"{out}/ingest")
        self.stored_items += self.input_bytes
        return bad


class HandIndex(Workload):
    item = "branches"

    def setup(self):
        b = gen.branches(self.seed, BRANCHES_PER_OP)
        self.gen = b
        self.tiles = self.spark.createDataFrame(
            [(bytearray(g), bp, f) for g, bp, f in b["tiles_raw"]],
            "geom binary, branch_path string, src_file string",
        ).localCheckpoint(eager=True)
        self.manifest = self.spark.createDataFrame(
            b["file_manifest"], "file string"
        ).localCheckpoint(eager=True)
        self.plan = gen.rois(self.seed, ROI_PLAN_OPS, b["box"], BRANCHES_PER_OP)
        self.queries: list[tuple[str, float]] = []  # (class, latency) per query

    def _query(self, root: str, roi: dict, out_dir: str) -> dict:
        """cli/query_roi_main.py's path: icelite reads, roi_query, write_results."""
        from hand_index_spark.pipelines import query_roi
        from hand_index_spark.tables.icelite import IceliteTable

        t = {n: IceliteTable(root, n).read(self.spark)
             for n in ("catchments", "hydrotables", "rem_rasters", "catchment_rasters")}
        kept, attrs, stats = query_roi.roi_query(
            self.spark, t["catchments"], roi["geojson"],
            hydrotables=t["hydrotables"], rem_rasters=t["rem_rasters"],
            catchment_rasters=t["catchment_rasters"],
            overlap_threshold_pct=OVERLAP_THRESHOLD_PCT,
        )
        query_roi.write_results(kept, attrs, out_dir)
        return stats

    def _run(self, tiles, manifest, out: str, tag: str, rois: list[dict]) -> list[dict]:
        from hand_index_spark.pipelines.build_index import build_index

        self.snaps = build_index(self.spark, tiles, manifest, f"{out}/index",
                                 input_fingerprint=tag)
        stats = []
        for j, roi in enumerate(rois):
            t0 = time.perf_counter()
            stats.append(self._query(f"{out}/index", roi, f"{out}/q{j}"))
            self.queries.append((roi["cls"], time.perf_counter() - t0))
        return stats

    def warm(self):
        self._run(self.tiles, self.manifest, self.out_dir("warm"), "warm", self.plan[-1])
        self.cleanup("warm")
        self.queries.clear()

    def op(self, i) -> int:
        self.rois = self.plan[i % len(self.plan)]
        self.stats = self._run(self.tiles, self.manifest, self.out_dir(i), f"op{i}", self.rois)
        return BRANCHES_PER_OP

    def run_checks(self) -> list[str]:
        """union_branches over the J7-deduped rows must dissolve every branch."""
        from hand_index_spark.operators.union_agg import union_branches

        src = self.tiles.filter(F.col("src_file").endswith("/gw_catchments.gpkg"))
        methods = {r[0]: r[1] for r in union_branches(src).groupBy("union_method").count().collect()}
        if methods != {"dissolve": BRANCHES_PER_OP}:
            return [f"union_method counts {methods}, want all {BRANCHES_PER_OP} 'dissolve'"]
        return []

    def check(self, i) -> list[str]:
        from hand_index_spark.geo import polygon as P
        from hand_index_spark.tables.icelite import IceliteTable

        out = self.out_dir(i)
        bad = []
        for table, want in self.gen["rows"].items():
            got = self.snaps[table]["row_count"]
            if got != want:
                bad.append(f"{table}: {got} rows, want {want}")
        rows = (
            IceliteTable(f"{out}/index", "catchments").read(self.spark)
            .select("catchment_id", "branch_path", "coords_flat").collect()
        )
        want_area = dict(zip(self.gen["branch_paths"], self.gen["area"]))
        worst = max(
            abs(abs(P.ring_area(np.asarray(flat).reshape(-1, 2))) - want_area[bp]) / want_area[bp]
            for _cid, bp, flat in rows
        )
        if worst > 1e-9:
            bad.append(f"catchment area off its quad by {worst:.3g} relative")
        scan = FullScan(rows)
        for j, (roi, stats) in enumerate(zip(self.rois, self.stats)):
            kept = stats["final"]
            written = {}
            for part in ("geometries", "attributes"):
                d = os.path.join(out, f"q{j}", part)
                names = os.listdir(d) if os.path.isdir(d) else []
                written[part] = {n.split("=", 1)[1] for n in names if n.startswith("catchment_id=")}
                if len(written[part]) != kept:
                    bad.append(f"query {j}: {len(written[part])} {part} dirs, stats say {kept} kept")
            ref = scan.kept(roi["geojson"], OVERLAP_THRESHOLD_PCT)
            if written["geometries"] != ref:
                bad.append(f"query {j} ({roi['cls']}): kept ids differ from the full scan "
                           f"on {len(written['geometries'] ^ ref)} ids")
        self.stored_bytes += du(f"{out}/index")
        self.stored_items += BRANCHES_PER_OP
        return bad


class FullScan:
    """The reference for a query: refine every catchment's shell against
    the ROI in NumPy, with no partition pruning and no bbox prefilter,
    using the closed forms operators.overlap.refine_overlap applies."""

    def __init__(self, rows):
        from hand_index_spark.geo import polygon as P

        self.ids = np.array([r[0] for r in rows])
        flats = [np.asarray(r[-1], dtype=np.float64) for r in rows]
        self.coords = np.concatenate(flats).reshape(-1, 2)
        self.offsets = np.concatenate([[0], np.cumsum([len(f) // 2 for f in flats])])
        self.areas = np.abs(P.batch_signed_areas(self.coords, self.offsets))

    def kept(self, geojson: dict, threshold_pct: float) -> set:
        from hand_index_spark.geo import albers
        from hand_index_spark.geo import polygon as P
        from hand_index_spark.sources.geojson import load_roi

        ring = load_roi(geojson)[0]
        x, y = albers.forward(ring[:, 0], ring[:, 1])
        roi = np.column_stack([x, y])
        roi_area = abs(P.ring_area(roi))
        clipped, c_off = P.batch_clip_convex(self.coords, self.offsets, roi)
        inter = np.abs(P.batch_signed_areas(clipped, c_off))
        hit = np.diff(c_off) > 0
        contains = inter >= roi_area * (1.0 - 1e-9) if roi_area > 0 else np.zeros(len(hit), bool)
        within = (self.areas > 0) & (inter >= self.areas * (1.0 - 1e-9))
        with np.errstate(divide="ignore", invalid="ignore"):
            pct = np.where(self.areas > 0, inter / np.maximum(self.areas, 1e-300) * 100.0, 0.0)
        return set(self.ids[hit & (contains | within | (pct >= threshold_pct))].tolist())


WORKLOADS = {"corpus": Corpus, "hand_index": HandIndex}
