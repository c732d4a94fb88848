#!/usr/bin/env python3
"""Pipeline benchmark for hand_index_spark.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 10 --trace 0

Runs one workload (see workloads.py and README.md) from the root of a
checkout: starts Spark as local[k] with k = min(2, cores), builds the
seeded inputs, runs one untimed full-size warm-up operation, then runs
operations in a closed loop (one client, the next call starts
when the previous returns) until ``--seconds`` of operation time and at
least MIN_OPS operations are measured. Every
operation's output is checked. With ``--trace 0`` the last line of
stdout is the JSON result with the end-to-end metrics; with
``--trace 1`` the run then measures one traced operation, writes the
spans as JSONL and reports the per-layer metrics instead. Everything the run
writes goes under ``.perfbench_work/`` in the checkout and is removed
at the end.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# two task threads: on a 4-core host, local[4] left no core for the
# driver JVM and Python, and op latency spread across runs doubled
CORES = max(1, min(2, os.cpu_count() or 1))
SETUP_REPS = 3
# timed operations per run, at least. On a 4-core VM the warm-up takes
# about twice as long as the operations after it, and those still get a
# little faster for several more; the median of two (their mean) is
# reported. A third would not fit the benchmark's time budget.
MIN_OPS = 2
DRIVER_MEM = "1536m"
RSS_INTERVAL_S = 0.2
KERNEL_REPS, KERNEL_ROWS = 5, 1 << 18

# end-to-end metric -> unit; README.md gives each its per-workload name
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "items_per_s": "1/s",
    "stored_bytes_per_item": "B/item",
}
# the per-workload names of the generic metrics, printed beside them
NAMED = {
    "corpus": {"items_per_s": "corpus.pages_per_s",
               "stored_bytes_per_item": "ingest.stored_bytes_per_input_byte"},
    "hand_index": {"items_per_s": "hand_index.branches_per_s",
                   "stored_bytes_per_item": "build.stored_bytes_per_branch"},
}


def page_touch_ms() -> float:
    """Host-weather probe: wall time to first-touch 64 MB of fresh pages."""
    import numpy as np

    t0 = time.perf_counter()
    a = np.zeros(64 * 1024 * 1024 // 8)
    a[:: 4096 // 8] = 1.0  # touch every 4 KiB page
    dt = (time.perf_counter() - t0) * 1000.0
    del a
    return dt


def cpu_probe_mops() -> float:
    """Host-weather probe: single-thread interpreter adds per second (M)."""
    t0 = time.perf_counter()
    s = 0
    for i in range(500_000):
        s += i
    return 0.5 / (time.perf_counter() - t0)


class RssSampler(threading.Thread):
    """High-water resident memory of this process and its descendants,
    as the sum of their PSS (proportional set size). Spark's Python
    workers are forks of one daemon: PSS counts each page they share
    once in all.

    The JVM starts commands (Hadoop's chmod and bash) with posix_spawn,
    whose child runs in the JVM's own memory until it execs, still named
    ``java``. Its smaps then show the whole JVM a second time, so a
    ``java`` child of a ``java`` process is not counted."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self.peak_procs = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _pss_kb(pid: int) -> int:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
        return 0

    @classmethod
    def _tree_kb(cls, root: int) -> tuple[int, int]:
        parent: dict[int, int] = {}
        comm: dict[int, str] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            name, rest = stat.split("(", 1)[1].rsplit(")", 1)
            parent[int(d)] = int(rest.split()[1])
            comm[int(d)] = name
        tree, frontier = {root}, [root]
        while frontier:
            p = frontier.pop()
            for c, pp in parent.items():
                if pp == p and c not in tree:
                    tree.add(c)
                    frontier.append(c)
        total, procs = 0, 0
        for pid in tree:
            if comm[pid] == "java" and comm.get(parent[pid]) == "java":
                continue  # a spawned child that has not exec'd yet
            try:
                total += cls._pss_kb(pid)
            except OSError:  # the process has exited
                continue
            procs += 1
        return total, procs

    def run(self):
        me = os.getpid()
        while not self._stop_evt.is_set():
            kb, procs = self._tree_kb(me)
            if kb > self.peak_kb:
                self.peak_kb, self.peak_procs = kb, procs
            self._stop_evt.wait(RSS_INTERVAL_S)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_kb / 1024.0


def end_to_end(setup_s: float, peak_mb: float, res: dict,
               stored_bytes: int, stored_items: int) -> dict[str, float]:
    """The END_TO_END metrics of an untraced measurement. Every operation
    processes the same number of items; throughput is items per
    operation over the median operation latency."""
    return {
        "setup_s": setup_s,
        "peak_rss_mb": peak_mb,
        "items_per_s": res["items"] / len(res["lat"]) / statistics.median(res["lat"]),
        "stored_bytes_per_item": stored_bytes / max(1, stored_items),
    }


def roi_latencies(queries: list[tuple[str, float]]) -> dict[str, tuple[float, str]]:
    """Per-query ROI latency: median, the highest nearest-rank percentile
    with at least ten samples beyond it (the maximum below 11 samples),
    and the median of the empty-ROI queries (the fixed per-query cost)."""
    if not queries:
        return {}
    lat = sorted(t for _c, t in queries)
    n = len(lat)
    pct, tail_v = (100.0 * (n - 10) / n, lat[n - 11]) if n >= 11 else (100.0, lat[-1])
    empty = [t for c, t in queries if c == "empty"]
    out = {
        "roi.latency_p50_s": (statistics.median(lat), f"median of {n} queries"),
        "roi.latency_tail_s": (tail_v, f"p{pct:.1f} of {n} queries"),
    }
    if empty:
        out["roi.empty_latency_p50_s"] = (statistics.median(empty),
                                          f"median of {len(empty)} empty-ROI queries")
    return out


def kernel_rate() -> tuple[float, int]:
    """Single-thread assign_batch rows/s on KERNEL_ROWS fixed NumPy points,
    in the UDF's 32k-row blocks, outside Spark (no Arrow transport); the
    median of KERNEL_REPS passes."""
    import numpy as np

    from hand_index_spark.operators.assign import assign_batch, build_tile_index
    from hand_index_spark.tables import tilegrid as tg

    index = build_tile_index()
    n = KERNEL_ROWS
    lat, lon = tg.doc_latlon_numpy(np.random.default_rng(0).integers(1, 1 << 31, n))
    times = []
    for _ in range(KERNEL_REPS):
        t0 = time.perf_counter()
        for a in range(0, n, 32768):
            assign_batch(index, lat[a:a + 32768], lon[a:a + 32768])
        times.append(time.perf_counter() - t0)
    return n / statistics.median(times), n


def start_spark(work: str):
    from hand_index_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    # two malloc arenas for the JVM and its Python workers: glibc otherwise
    # gives up to 8 per core, and how many of them threads touch depends
    # on thread timing
    os.environ["MALLOC_ARENA_MAX"] = "2"
    # spark-submit's launcher JVM: no /tmp/hsperfdata_* file either
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={local} -XX:-UsePerfData"
    spark = get_spark(
        "perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.memory": DRIVER_MEM,
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # keep the JVM's temp files and its /tmp/hsperfdata_* file out of /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={local} -Dderby.system.home={work} -XX:-UsePerfData"
                # a fixed-size heap: G1 resizes a growable heap by GC pause
                # times, which made the JVM's RSS follow host speed. Even at
                # a fixed size, G1 touches its regions as it first allocates
                # in them, and when it did so followed GC timing: on a busy
                # host, peak RSS moved by 300 MB between runs of the same
                # code. Touching the whole heap at start makes it resident
                # in every run.
                f" -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then end the JVM (and its Python workers) and wait."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(wl, seconds: float, min_ops: int, tracer=None) -> dict:
    """Closed loop until ``seconds`` of operation time and ``min_ops``
    operations; checks between ops."""
    lat, items, failed, errors = [], 0, 0, []
    i = 0
    while sum(lat) < seconds or len(lat) < min_ops:
        if tracer is not None:
            tracer.op_id = i
        t0 = time.perf_counter()
        try:
            if tracer is not None:
                with tracer.span("op"):
                    n = wl.op(i)
            else:
                n = wl.op(i)
        except Exception as e:  # an operation that raises counts as failed
            lat.append(time.perf_counter() - t0)
            failed += 1
            errors.append(f"op {i}: {type(e).__name__}: {e}")
            wl.cleanup(i)
            i += 1
            continue
        dt = time.perf_counter() - t0
        if tracer is not None:
            tracer.op_id = None
            tracer.paused = True
        try:
            bad = wl.check(i)
        except Exception as e:  # output the check cannot read is a failed op
            bad = [f"check raised {type(e).__name__}: {e}"]
        finally:
            if tracer is not None:
                tracer.paused = False
        wl.cleanup(i)
        lat.append(dt)
        items += n
        if bad:
            failed += 1
            errors.extend(f"op {i}: {b}" for b in bad)
        i += 1
    return {"lat": lat, "items": items, "failed": failed, "errors": errors}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--spans", default=None,
                   help="where the traced run writes its spans (default: under perfbench-out/)")
    args = p.parse_args(argv)

    # the package and the benchmark's modules come from this checkout;
    # Spark's Python workers inherit PYTHONPATH
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    import hand_index_spark  # noqa: F401  (fails outside a full checkout)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    weather = {"page_touch_ms": page_touch_ms(), "cpu_mops": cpu_probe_mops()}
    rss = RssSampler()
    rss.start()
    t_start = time.perf_counter()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        reps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup()
            reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(reps) + warm_s
        t0 = time.perf_counter()
        wl.prepare_checks()
        prepare_s = time.perf_counter() - t0

        res = measure(wl, args.seconds, MIN_OPS)
        n_queries = len(getattr(wl, "queries", []))
        traced = None
        if args.trace:
            from tracing import Tracer, install, uninstall

            tracer = Tracer(spark)
            patches = install(tracer)
            try:
                traced = measure(wl, 0, 1, tracer)
            finally:
                uninstall(patches)
        run_bad = wl.run_checks()
        kernel = kernel_rate() if args.trace else None
    finally:
        if spark is not None:
            stop_spark(spark)
        peak_mb = rss.stop()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    wall_s = time.perf_counter() - t_start

    runs = [res] + ([traced] if traced else [])
    attempted = sum(len(r["lat"]) for r in runs)
    failed = attempted if run_bad else sum(r["failed"] for r in runs)
    for e in run_bad + [e for r in runs for e in r["errors"]]:
        print(f"CHECK FAILED: {e}")

    lat = res["lat"]
    e2e = end_to_end(setup_s, peak_mb, res, wl.stored_bytes, wl.stored_items)
    names = NAMED[args.workload]
    print(f"workload {args.workload} seed {args.seed}: {len(lat)} ops of "
          f"{wl.item} in {sum(lat):.3f} s, local[{CORES}], one closed-loop client")
    print(f"wall {wall_s:.1f} s: session {session_s:.2f} s, set-up reps "
          f"{', '.join(f'{r:.2f}' for r in reps)} s, warm-up {warm_s:.2f} s, "
          f"check prep {prepare_s:.2f} s")
    print(f"op latencies (s): {', '.join(f'{t:.3f}' for t in lat)}; peak RSS {peak_mb:.0f} MB "
          f"over {rss.peak_procs} processes")
    print(f"weather: page_touch_ms {weather['page_touch_ms']:.1f}  cpu_mops {weather['cpu_mops']:.2f}")
    for k, v in e2e.items():
        label = f"{k} ({names[k]})" if k in names else k
        print(f"  {label:<58} {v:>14.6g} {END_TO_END[k]}")
    print(f"  {'ops_failed_frac':<58} {failed / attempted:>14.6g} ratio "
          f"({failed} / {attempted})")
    roi = roi_latencies(getattr(wl, "queries", [])[:n_queries])
    for k, (v, base) in roi.items():
        print(f"  {k:<58} {v:>14.6g} s ({base})")

    metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    if args.trace:
        from summarize import UNITS, per_layer, table

        extras = {
            "roi": roi,
            "kernel_rows_per_s": kernel[0],
            "kernel_rows": kernel[1],
            "knn_frac": getattr(wl, "knn", None),
            "untraced_p50_s": statistics.median(lat),
            "traced_p50_s": statistics.median(traced["lat"]),
            **weather,
        }
        spans_path = args.spans or os.path.join(
            ROOT, "perfbench-out", f"spans-{args.workload}-{args.seed}.jsonl")
        os.makedirs(os.path.dirname(os.path.abspath(spans_path)), exist_ok=True)
        tracer.spans.append({"id": len(tracer.spans), "name": "run", "parent": None,
                             "op": None, "start": 0.0, "end": 0.0, "extras": extras,
                             "workload": args.workload, "seed": args.seed})
        tracer.dump(spans_path)
        layers = per_layer(tracer.spans[:-1], extras)
        print(f"spans: {spans_path}")
        print(table(layers))
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, (v, _base) in layers.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
