#!/usr/bin/env python3
"""The repo benchmark: two closed-loop workloads driven through the engine's
public functions from one client process.

    python3 perfbench/run.py --workload tile --seed 1 --seconds 10 --trace 0

Run it from the repository root. Inputs are generated from ``--seed`` into
``.perfbench_work/`` and checked answers are computed with numpy, neither
timed. Then:

- leg A at ``local[nproc]``: a timed set-up (session start, package
  shipping, input registration, Python worker start, one warm-up cycle),
  then the workload's cycle back to back for ``--seconds`` (``tile``: 60%
  of it), at least MIN_CYCLES times;
- ``tile`` only, leg B at ``local[1]``: a timed set-up in the same JVM, then
  the tiling job on 1/nproc of the pages for the remaining 40%, for
  ``scaling_eff``.

Every job's output is checked after the timed section. The last stdout line
is one JSON object (correct, attempted, failed, metrics): ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs leg A with spans and
Spark status-store reads and reports the per-layer metrics; it fails if the
layer spans leave more than TRACE_TOLERANCE of a cycle unexplained. The exit
code is non-zero if any job or check failed.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
LEG_A_SHARE = 0.6
DRIVER_MEM = "2g"  # the engine's default (16g) exceeds a 15 GB, 4-vCPU host
YOUNG_MEM = "512m"  # well below the heap, so old-generation growth shows in RSS

E2E = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "cycle_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "sources.scan_s": "s",
    "geo.encode_s": "s",
    "geo.pipeline_s": "s",
    "skew.salt_s": "s",
    "skew.max_reducer_rows": "count",
    "pip_join.python_run_s": "s",
    "pip_join.python_init_s": "s",
    "pip_join.python_bytes_sent": "bytes",
    "pip_join.mapinpandas_nodes": "count",
    "pip_join.point_scans": "count",
    "pip_join.broadcast_collect_s": "s",
    "pip_join.refine_keep_ratio": "ratio",
    "pip_join.full_cell_share": "ratio",
    "knn.call_s": "s",
    "knn.spark_jobs": "count",
    "knn.candidates_per_result": "ratio",
    "knn.shuffle_write_bytes": "bytes",
    "zonal.python_run_s": "s",
    "zonal.python_bytes_sent": "bytes",
    "zonal.pairs": "count",
    "lineage.run_s": "s",
    "lineage.spark_jobs": "count",
    "lineage.bytes_written": "bytes",
    "lineage.rerun_ratio": "ratio",
    "lineage.verify_s": "s",
    "lineage.lazy_unit_s": "s",
    "spark.job_floor_s": "s",
    "spark.mapinpandas_floor_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_write_s": "s",
    "spark.gc_s": "s",
    "spark.task_busy_share": "ratio",
    "trace.overhead_s": "s",
    "trace.unattributed_share": "ratio",
}
# pages per workload (leg A; leg B reads the first n_pages // nproc rows)
N_PAGES = {"tile": 120_000, "spatial_join": 60_000}
# the JIT keeps improving over the first cycles; spatial_join's cycle is
# shorter than tile's, so it can afford a second warm-up within the budget
WARMUP_CYCLES = {"tile": 1, "spatial_join": 2}
MIN_CYCLES = 3
TRACE_TOLERANCE = 0.10  # the largest share of a traced cycle no span may explain
HEAD_JOBS_PER_CYCLE = 2  # the headline job is short; two per cycle double its samples


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def summary(xs: list[float]) -> dict:
    """Median plus the highest percentile that leaves >= 10 samples above it."""
    xs = sorted(xs)
    out = {"n": len(xs), "median": statistics.median(xs) if xs else None, "p_hi": None, "p": None}
    if len(xs) >= 11:
        p = math.floor(100 * (len(xs) - 10) / len(xs))
        out["p"] = p
        out["p_hi"] = xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]
    return out


def unattributed_share(tracer) -> float:
    """Median over traced cycles of the cycle span's self time (the part no
    layer or trace.read span covers) as a share of its duration."""
    selfs = tracer.self_times()
    shares = [s / sp.dur for sp, s in zip(tracer.spans, selfs) if sp.name == "cycle"]
    return statistics.median(shares) if shares else 0.0


def reconcile(tracer) -> list[str]:
    """The per-layer self times must cover the traced cycle wall to within
    TRACE_TOLERANCE; a traced run that does not is a failed run."""
    if not any(sp.name == "cycle" for sp in tracer.spans):
        return ["trace: no traced cycle"]
    share = unattributed_share(tracer)
    if share > TRACE_TOLERANCE:
        return [f"trace: unattributed share {share:.3f} > tolerance {TRACE_TOLERANCE}"]
    return []


class Run:
    """One benchmark process: inputs, sessions, samples and failures."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        import gen
        from spans import Tracer

        self.workload, self.seed, self.seconds, self.traced = workload, seed, seconds, trace
        self.cores = nproc()
        self.n = N_PAGES[workload]
        self.n_small = self.n // self.cores
        self.inp = os.path.join(WORK, "inputs", f"{workload}-{seed}")
        self.out = os.path.join(WORK, "out")
        os.makedirs(self.out, exist_ok=True)
        shutil.rmtree(self.inp, ignore_errors=True)
        self.truth = gen.generate(seed, self.inp, gen.Shape(n_pages=self.n, cores=self.cores))
        self.tracer = Tracer(f"{workload}-{seed}-{int(time.time())}", trace)
        self.samples: dict[str, list[float]] = {}
        self.layer: dict[str, list[float]] = {}
        self.attempted = 0
        self.failures: list[str] = []
        self.setups: list[float] = []
        self.peak_kb = 0
        self.spark = None
        self.pending: list = []  # (kind, check, result, expected), checked after a leg
        self.reference = None  # lineage of an uninterrupted commit
        self.traced_walls: list[float] = []
        self.untraced_walls: list[float] = []
        self.zonal_pixels = int(self.truth["zonal_pairs"]) * self.truth["tile_px"] ** 2
        self.expected = self._expected()

    # -- independent answers (computed before any session exists) ---------
    def _expected(self) -> dict:
        import check
        import jobs

        if self.workload == "tile":
            return {
                "A": check.tile_expected(self.truth, self.n, jobs.TILE_RES),
                "B": check.tile_expected(self.truth, self.n_small, jobs.TILE_RES),
                "units": check.unit_counts(self.truth, self.n_small, jobs.TILE_RES, jobs.UNIT_RES),
            }
        return {
            "A": check.pip_expected(self.truth, self.n),
            "knn": check.knn_expected(self.truth, self.n, jobs.KNN_K),
            "zonal": check.zonal_expected(self.truth),
        }

    def pages_path(self, leg: str) -> str:
        return f"{self.inp}/pages" if leg == "A" else f"{self.inp}/pages_small"

    # -- sessions -----------------------------------------------------------
    def start(self, cores: int) -> None:
        from geografir_spark.session import get_spark
        from geografir_spark.shipping import ensure_shipped

        self.spark = get_spark(
            "perfbench",
            cores=cores,
            extra_conf={
                "spark.driver.memory": DRIVER_MEM,
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": f"{WORK}/local",
                "spark.sql.warehouse.dir": f"{WORK}/warehouse",
                # heap and young generation of fixed size, so the JVM's
                # sizing decisions do not move throughput or memory from run
                # to run. Heap pages become resident only when touched, so
                # peak_rss_mb is the young generation plus the old
                # generation's high-water mark: it grows with heap use such
                # as persist
                "spark.driver.extraJavaOptions":
                    f"-Xms{DRIVER_MEM} -Xmn{YOUNG_MEM} -XX:-UsePerfData "
                    f"-Dderby.system.home={WORK}/derby -Djava.io.tmpdir={WORK}/tmp",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        ensure_shipped(self.spark)
        for name in ("pages", "pages_small", "zones", "queries", "tiles", "zone_cover"):
            self.spark.read.parquet(f"{self.inp}/{name}").schema  # registration

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, which exits when its stdin
        closes, and wait for it."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        gw.proc.stdin.close()
        try:
            gw.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
        SparkContext._gateway = SparkContext._jvm = None

    # -- jobs ---------------------------------------------------------------
    def job(self, kind: str, fn, expected=None, check_fn=None):
        """Run one job and time it. A job that raises is a failure; its
        output is queued to be checked after the timed section."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            res = fn()
        except Exception as e:  # counted and reported; the run goes on
            self.failures.append(f"{kind}: {type(e).__name__}: {str(e)[:300]}")
            return None, None
        dt = time.perf_counter() - t0
        if check_fn is not None:
            self.pending.append((kind, check_fn, res, expected))
        return res, dt

    def run_checks(self) -> None:
        for kind, fn, res, exp in self.pending:
            problems = fn(res, exp)
            if problems:
                self.failures.append(f"{kind}: " + "; ".join(problems[:3]))
        self.pending = []

    def add(self, key: str, v: float) -> None:
        self.samples.setdefault(key, []).append(v)

    def layer_add(self, key: str, v: float) -> None:
        self.layer.setdefault(key, []).append(float(v))

    def measured(self, name: str, fn):
        """Run ``fn`` inside span ``name``; when tracing, then read what it
        ran from Spark's stores (inside a ``trace.read`` span, so the read
        is charged to tracing, not to the layer)."""
        if not self.traced:
            return fn(), None, None
        with self.tracer.span("trace.read"):
            mark = self.stores.mark()
        with self.tracer.span(name) as sp:
            out = fn()
        with self.tracer.span("trace.read"):
            info = {
                "nodes": self.stores.nodes_since(mark),
                "stages": self.stores.stages_since(mark),
                "jobs": self.stores.jobs_since(mark),
            }
        sp.attrs = {
            "spark_jobs": info["jobs"],
            "stages": info["stages"],
            "nodes": [{"execution": n.execution, "name": n.name, "metrics": n.metrics}
                      for n in info["nodes"] if n.metrics],
        }
        return out, sp, info

    # -- per-cycle probes (traced run only) --------------------------------
    def probe_prefixes(self, path: str, res: int) -> None:
        """Prefix materialisation: a noop scan of pages, then a noop of
        pages -> geocode -> cell. The difference is the geo layer."""
        import jobs

        def noop(df):
            return lambda: df.write.format("noop").mode("overwrite").save()

        _, scan, _ = self.measured("sources", noop(jobs.pages(self.spark, path)))
        _, geo, info = self.measured("geo", noop(jobs.celled(self.spark, path, res)))
        self.layer_add("sources.scan_s", scan.dur)
        self.layer_add("geo.encode_s", geo.dur - scan.dur)
        self.layer_add("geo.pipeline_s", sum(
            n.metrics.get("duration", 0.0) for n in info["nodes"] if n.name.startswith("WholeStageCodegen")))

    def probe_floors(self) -> None:
        empty = self.spark.range(0, numPartitions=1)
        _, sp, _ = self.measured("spark.job_floor", lambda: empty.count())
        self.layer_add("spark.job_floor_s", sp.dur)
        df = self.spark.range(1, numPartitions=1)
        _, sp, _ = self.measured(
            "spark.mapinpandas_floor", lambda: df.mapInPandas(lambda it: it, "id long").collect())
        self.layer_add("spark.mapinpandas_floor_s", sp.dur)

    # -- workload cycles ----------------------------------------------------
    def cycle(self, leg: str) -> None:
        """One closed-loop cycle of the workload's jobs (leg B: the tiling
        job only). Adds a ``cycle_<leg>`` sample."""
        path = self.pages_path(leg)
        n = self.n if leg == "A" else self.n_small
        self.tracer.enabled = self.traced
        t0 = time.perf_counter()
        with self.tracer.span("cycle") as cyc:
            if self.traced:
                with self.tracer.span("trace.read"):
                    mark = self.stores.mark()
            getattr(self, f"cycle_{self.workload}")(leg, path, n)
            if self.traced:
                self.probe_floors()
        dt = time.perf_counter() - t0
        self.add(f"cycle_{leg}", dt)
        if self.traced:
            with self.tracer.span("trace.read"):
                st = self.stores.stages_since(mark)
            self.layer_add("spark.shuffle_write_bytes", st["shuffle_write_bytes"])
            self.layer_add("spark.shuffle_write_s", st["shuffle_write_s"])
            self.layer_add("spark.gc_s", st["gc_s"])
            self.layer_add("spark.task_busy_share", st["run_s"] / (cyc.dur * self.cores))
            self.traced_walls.append(cyc.dur)

    def cycle_tile(self, leg: str, path: str, n: int) -> None:
        import check
        import jobs

        if self.traced:
            self.probe_prefixes(path, jobs.TILE_RES)
        for _ in range(HEAD_JOBS_PER_CYCLE if leg == "A" else 1):
            (res, dt), sp, _ = self.measured("skew", lambda: self.job(
                "tile", lambda: jobs.tile(self.spark, path, n), self.expected[leg], check.check_tile))
            if dt is not None:
                self.add(f"head_{leg}", dt)
            if self.traced:
                self.layer_add("skew.salt_s", sp.dur)
        if self.traced:
            mx, _, _ = self.measured("skew.reducer_count",
                                     lambda: jobs.max_reducer_rows(self.spark, path, n))
            self.layer_add("skew.max_reducer_rows", mx)
        if leg == "A":
            self.commit_step()

    def cycle_spatial_join(self, leg: str, path: str, n: int) -> None:
        import check
        import jobs

        if self.traced:
            self.probe_prefixes(path, jobs.PIP_RES)
        for _ in range(HEAD_JOBS_PER_CYCLE):
            (res, dt), sp, info = self.measured("pip_join", lambda: self.job(
                "pip", lambda: jobs.pip(self.spark, path, f"{self.inp}/zones"),
                self.expected["A"], check.check_pip))
            if dt is not None:
                self.add(f"head_{leg}", dt)
            if self.traced and res is not None:
                self.pip_layers(info["nodes"], int(res["n"].sum()))

        def knn_job():
            with self.tracer.span("knn.call"):
                t0 = time.perf_counter()
                out = jobs.knn_call(self.spark, path, f"{self.inp}/queries")
                self.knn_call_s = time.perf_counter() - t0
            with self.tracer.span("knn.collect"):
                return jobs.knn_collect(out)

        (res, dt), sp, info = self.measured("knn", lambda: self.job(
            "knn", knn_job, self.expected["knn"], check.check_knn))
        if dt is not None:
            self.add("knn", dt)
        if self.traced and res is not None:
            joins = [m for m in info["nodes"] if m.name.endswith("Join") and ", Inner," in m.desc]
            cand = sum(m.metrics.get("number of output rows", 0.0) for m in joins)
            self.layer_add("knn.call_s", self.knn_call_s)
            self.layer_add("knn.spark_jobs", info["jobs"])
            self.layer_add("knn.candidates_per_result", cand / max(len(res), 1))
            self.layer_add("knn.shuffle_write_bytes", info["stages"]["shuffle_write_bytes"])

        (res, dt), sp, info = self.measured("zonal", lambda: self.job(
            "zonal", lambda: jobs.zonal_stats(self.spark, f"{self.inp}/tiles", f"{self.inp}/zone_cover"),
            self.expected["zonal"], check.check_zonal))
        if dt is not None:
            self.add("zonal", dt)
        if self.traced and res is not None:
            mip = [m for m in info["nodes"] if m.name == "MapInPandas"]
            self.layer_add("zonal.python_run_s", sum(m.metrics.get("time to run Python workers", 0.0) for m in mip))
            self.layer_add("zonal.python_bytes_sent", sum(m.metrics.get("data sent to Python workers", 0.0) for m in mip))
            self.layer_add("zonal.pairs", sum(m.metrics.get("number of output rows", 0.0) for m in mip))

    def pip_layers(self, nodes, result_rows: int) -> None:
        by_id = {(m.execution, m.id): m for m in nodes}
        mip = [m for m in nodes if m.name == "MapInPandas"]
        refine = [m for m in mip if m.desc.startswith("MapInPandas refine(")]
        refine_in = sum(by_id[(m.execution, c)].metrics.get("number of output rows", 0.0)
                        for m in refine for c in m.children if (m.execution, c) in by_id)
        refine_out = sum(m.metrics.get("number of output rows", 0.0) for m in refine)
        self.layer_add("pip_join.python_run_s", sum(m.metrics.get("time to run Python workers", 0.0) for m in mip))
        self.layer_add("pip_join.python_init_s", sum(
            m.metrics.get("time to start Python workers", 0.0)
            + m.metrics.get("time to initialize Python workers", 0.0) for m in mip))
        self.layer_add("pip_join.python_bytes_sent", sum(m.metrics.get("data sent to Python workers", 0.0) for m in mip))
        self.layer_add("pip_join.mapinpandas_nodes", len(mip))
        self.layer_add("pip_join.point_scans", sum(
            1 for m in nodes if m.name.startswith("Scan") and "page_id" in m.desc))
        self.layer_add("pip_join.broadcast_collect_s", sum(
            m.metrics.get("time to collect", 0.0) for m in nodes if m.name == "BroadcastExchange"))
        self.layer_add("pip_join.refine_keep_ratio", refine_out / refine_in if refine_in else 0.0)
        self.layer_add("pip_join.full_cell_share", 1.0 - refine_out / max(result_rows, 1))

    def commit_step(self) -> None:
        """Commit the tiling output of the first 1/nproc of the pages through
        run_resumable, crash it halfway, restart it and verify it."""
        import check
        import jobs

        units = self.expected["units"]
        out_dir = f"{WORK}/table-{self.seed}"
        (seq, dt), sp, info = self.measured("lineage", lambda: self.job(
            "resume_write",
            lambda: jobs.resume_sequence(self.spark, self.pages_path("B"), out_dir,
                                         len(units) // 2, self.tracer.span),
            units, lambda got, exp: check.check_resume(got, self.reference, exp)))
        shutil.rmtree(out_dir, ignore_errors=True)
        if dt is None:
            return
        self.add("write", dt)
        self.add("resume", seq["resume_s"])
        self.add("committed_rows", float(seq["committed_rows"]))
        if self.traced:
            pending = len(units) - seq["committed_before_resume"]
            self.layer_add("lineage.run_s", statistics.mean(seq["run_s"]))
            self.layer_add("lineage.spark_jobs", info["jobs"])
            self.layer_add("lineage.bytes_written", seq["bytes_written"])
            self.layer_add("lineage.rerun_ratio", seq["processed_on_resume"] / max(pending, 1))
            self.layer_add("lineage.verify_s", seq["verify_s"])

    # -- legs ---------------------------------------------------------------
    def setup(self, leg: str, cores: int) -> None:
        """Timed set-up: session (re)start, shipping, registration, Python
        worker start and warm-up cycles (never traced, never sampled): leg
        A starts a cold JVM, leg B reuses its compiled code."""
        t0 = time.perf_counter()
        self.start(cores)
        if self.traced:
            from spans import SparkStores
            self.stores = SparkStores(self.spark)
        self.start_python_workers()
        saved, self.traced = self.traced, False
        samples = {k: list(v) for k, v in self.samples.items()}
        for _ in range(WARMUP_CYCLES[self.workload] if leg == "A" else 1):
            self.cycle(leg)
        self.samples, self.traced = samples, saved
        self.setups.append(time.perf_counter() - t0)

    def start_python_workers(self) -> None:
        self.spark.range(1, numPartitions=1).mapInPandas(lambda it: it, "id long").collect()

    def leg(self, leg: str, cores: int, seconds: float) -> None:
        """Set up, then run cycles back to back for ``seconds`` (at least
        MIN_CYCLES); in a traced run every other cycle is untraced."""
        from spans import RssSampler

        self.setup(leg, cores)
        pid = self.spark.sparkContext._gateway.proc.pid
        with RssSampler(pid) as rss:
            t_end = time.perf_counter() + seconds
            i = 0
            while time.perf_counter() < t_end or i < MIN_CYCLES:
                if self.traced and i % 2 == 0:
                    self.traced = False
                    self.cycle(leg)
                    self.traced = True
                    self.untraced_walls.append(self.samples[f"cycle_{leg}"][-1])
                else:
                    self.cycle(leg)
                i += 1
        self.peak_kb = max(self.peak_kb, rss.peak_kb)
        if self.workload == "tile" and leg == "A":
            self.resume_references()
            if self.traced:
                self.probe_lazy_unit()
        self.stop()
        self.run_checks()

    def resume_references(self) -> None:
        """An uninterrupted run after the timed section: the per-unit
        checksums every resumed table must match."""
        import jobs

        self.reference = self.job(
            "resume_write.reference",
            lambda: jobs.uninterrupted(self.spark, self.pages_path("B"), f"{WORK}/reference-{self.seed}"))[0]

    def probe_lazy_unit(self) -> None:
        """After the timed section: one unit pass of run_resumable over the
        lazy tiling frame, which the commit step avoids (jobs.write_tiled)."""
        import jobs

        key = int(self.expected["units"]["part_key"].iloc[0])
        t0 = time.perf_counter()
        self.job("lineage.lazy_unit", lambda: jobs.lazy_unit_pass(self.spark, self.pages_path("B"), key))
        self.layer_add("lineage.lazy_unit_s", time.perf_counter() - t0)

    def execute(self) -> None:
        try:
            if self.traced:
                self.leg("A", self.cores, self.seconds)
            elif self.workload == "tile":
                self.leg("A", self.cores, self.seconds * LEG_A_SHARE)
                self.leg("B", 1, self.seconds * (1 - LEG_A_SHARE))
            else:
                self.leg("A", self.cores, self.seconds)
        finally:
            self.shutdown()
        if self.traced:
            self.failures += reconcile(self.tracer)

    # -- results ------------------------------------------------------------
    def med(self, key: str) -> float:
        """Median of a sample series; NaN when every job of it failed."""
        xs = self.samples.get(key)
        return statistics.median(xs) if xs else math.nan

    def end_to_end(self) -> dict:
        """End-to-end metrics, the same names on every workload."""
        return {
            "setup_s": self.setups[0],  # leg A: cold JVM up to the first timed job
            "rows_per_s": self.n / self.med("head_A"),
            "cycle_s": self.med("cycle_A"),
            "peak_rss_mb": self.peak_kb / 1024.0,
        }

    def details(self) -> dict:
        """The workload's own figures, with every sample disclosed."""
        d = {"workload": self.workload, "seed": self.seed, "cores": self.cores,
             "pages": self.n, "setups_s": self.setups,
             "failed_ops_ratio": len(self.failures) / max(self.attempted, 1)}
        for key, xs in sorted(self.samples.items()):
            d[key] = {**summary(xs), "samples": xs}
        if self.traced:
            return d
        if self.workload == "tile":
            d["tile_rows_per_s"] = self.n / self.med("head_A")
            # throughput at local[nproc] / (nproc x throughput at local[1]),
            # the input of the local[1] leg being 1/nproc of the pages
            d["scaling_eff"] = self.med("head_B") / self.med("head_A")
            d["write_rows_per_s"] = self.med("committed_rows") / self.med("write")
            d["resume_s"] = self.med("resume")
        else:
            d["pip_rows_per_s"] = self.n / self.med("head_A")
            d["knn_s"] = self.med("knn")
            d["zonal_pixels_per_s"] = self.zonal_pixels / self.med("zonal")
        return d

    def per_layer(self) -> dict:
        out = {k: (statistics.median(v) if v else 0.0) for k, v in self.layer.items()}
        out["trace.unattributed_share"] = unattributed_share(self.tracer)
        out["trace.overhead_s"] = (statistics.median(self.traced_walls)
                                   - statistics.median(self.untraced_walls))
        return {k: out.get(k, 0.0) for k in PER_LAYER}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(N_PAGES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "geografir_spark")):
        print("perfbench: run from the repository root (geografir_spark/ not found)", file=sys.stderr)
        return 2
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path[:0] = [HERE, ROOT]

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    run.execute()
    tag = f"{args.workload}-{args.seed}-trace{args.trace}"
    if run.traced:
        run.tracer.dump(os.path.join(run.out, f"{tag}-spans.json"))
        values, units = run.per_layer(), PER_LAYER
    else:
        values, units = run.end_to_end(), E2E
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    detail = run.details()
    detail["failures"] = run.failures
    with open(os.path.join(run.out, f"{tag}.json"), "w") as f:
        json.dump({"detail": detail, "metrics": metrics}, f, indent=1, default=str)
    shutil.rmtree(run.inp, ignore_errors=True)
    for k, v in metrics.items():
        print(f"# {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }))
    return 0 if not run.failures else 1


if __name__ == "__main__":
    sys.exit(main())
