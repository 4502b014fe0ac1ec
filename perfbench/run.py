"""cpx-etl-spark benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload etl_10x --seed 1 --seconds 10 --trace 0

Run from the repository root. The command generates the workload's
inputs from ``--seed`` under a fresh directory in ``.perfbench/``, sets
up a ``local[<cores>]`` session three times from cold (two of them in
fresh interpreters), builds the ingest loop's standing index, warms up,
runs timed passes for at least ``--seconds``,
checks the outputs (DuckDB oracles, or the recompute path for the
ingest loop) outside the timed region, and prints every metric by name
and unit. The last stdout line is the JSON result. ``--trace 1``
switches on spans, job groups and the Spark event log and reports the
per-layer metrics instead; see ``perfbench/METRICS.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

import eventlog
import proctree
import session
import spans
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# the fewest timed passes: the median is taken over comparable passes
MIN_PASSES = 3


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(tmp: str) -> None:
    """Point every temp, scratch, cache and Spark directory into
    ``tmp`` and put the repository on the Python workers' path. Must
    run before pyspark or cpx_etl_spark is imported."""
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["CPX_WAREHOUSE_DIR"] = os.path.join(tmp, "warehouse")
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    path = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, *path])
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def median_time(fn) -> float:
    """Median wall time of three calls of ``fn``."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return median(times)


def tail(xs: list[float]) -> tuple[float | None, int, int]:
    """(value, percentile, samples): the highest of p99/p95/p90/p75/p50
    with at least ten samples beyond it."""
    xs, n = sorted(xs), len(xs)
    for pct in (99, 95, 90, 75, 50):
        rank = math.ceil(n * pct / 100)
        if rank >= 1 and n - rank >= 10:
            return xs[rank - 1], pct, n
    return None, 0, n


class Bench:
    """One invocation: its session, passes, counters and checks."""

    def __init__(self, args: argparse.Namespace, tmp: str):
        self.args = args
        self.tmp = tmp
        self.w = workloads.WORKLOADS[args.workload]
        self.traced = bool(args.trace)
        self.tracer = spans.Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}")
        self.cores = cores()
        self.spark = None
        self.queries: dict = {}
        self.oracles: dict = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.event_dir = os.path.join(tmp, "eventlog")
        self.setup_times: list[dict[str, float]] = []
        self.passes: list[dict] = []

    # -- session ---------------------------------------------------------
    def _conf(self, event_log: bool) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}",
        }
        if event_log:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def set_up(self) -> None:
        """``SETUP_REPS`` cold session set-ups: ``SETUP_REPS - 1`` in
        fresh interpreters, then the benchmark's own. Each imports the
        package and its dependencies, launches a JVM and loads the
        registry with a fresh cache directory. Then the ingest loop's
        standing index and table are built and the first-call warm-up
        runs. ``setup_s`` is the median session set-up plus the index
        build plus the warm-up."""
        for rep in range(1, SETUP_REPS):
            self._log_session(rep, session.cold(
                self.cores, self._conf(event_log=False), os.path.join(self.tmp, f"setup{rep}")))
        tempfile.tempdir = os.path.join(self.tmp, "setup0")
        os.makedirs(tempfile.tempdir)
        self.spark, self.queries, self.oracles, times = session.set_up(
            self.cores, self._conf(event_log=self.traced))
        self._log_session(0, times)
        if self.traced:
            self._install_layers()
        t0 = time.perf_counter()
        if self.w is workloads.INGEST:
            self.index_path, self.table_path = workloads.build_standing(
                self.spark, self.inputs, os.path.join(self.tmp, "standing"))
            self.ingested = []
        t1 = time.perf_counter()
        self._warm()
        self.index_build_s = t1 - t0
        self.warm_s = time.perf_counter() - t1
        self.setup_s = (median(t["total"] for t in self.setup_times)
                        + self.index_build_s + self.warm_s)
        print(f"index build: {self.index_build_s:.2f}s warm-up: {self.warm_s:.2f}s",
              file=sys.stderr)

    def _log_session(self, rep: int, times: dict[str, float]) -> None:
        self.setup_times.append(times)
        print(f"session {rep}: " + " ".join(f"{k}={v:.2f}s" for k, v in times.items()),
              file=sys.stderr)

    def _install_layers(self) -> None:
        import importlib
        import pkgutil

        import cpx_etl_spark.plans as plans_pkg

        for info in pkgutil.iter_modules(plans_pkg.__path__):
            mod = importlib.import_module(f"cpx_etl_spark.plans.{info.name}")
            spans.install(self.tracer, mod, "plans.compile")

    def _warm(self) -> None:
        """First calls before timing: ``warm_passes`` untimed passes. The
        last pass collects the query results; the correctness check
        compares them with the oracles outside every timed region."""
        if self.w is workloads.INGEST:
            for batch_dir in self.inputs.batch_dirs[:self.w.warm_passes]:
                self._ingest_batch(batch_dir)
            return
        for _ in range(self.w.warm_passes - 1):
            for name in self.w.queries:
                self.queries[name](self.spark, self.inputs.corpus_dir) \
                    .write.format("noop").mode("overwrite").save()
        self.results = {}
        for name in self.w.queries:
            try:
                self.results[name] = self.queries[name](
                    self.spark, self.inputs.corpus_dir).toPandas()
            except Exception as e:  # noqa: BLE001 - reported by the check
                self.results[name] = e

    # -- timed passes ----------------------------------------------------
    def _group(self, tag: str) -> None:
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(tag, tag)

    def _query_call(self, p: int, name: str) -> float:
        t0 = time.perf_counter()
        with self.tracer.span("query", call=name, pass_no=p):
            with self.tracer.span("construct", phase="construct"):
                self._group(f"p{p}/{name}/construct")
                df = self.queries[name](self.spark, self.inputs.corpus_dir)
            if self.tracer.enabled:
                with self.tracer.span("plan", phase="plan"):
                    self._group(f"p{p}/{name}/plan")
                    df._jdf.queryExecution().executedPlan()
            with self.tracer.span("execute", phase="execute"):
                self._group(f"p{p}/{name}/execute")
                df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def _ingest_batch(self, batch_dir: str, p: int = -1) -> float:
        """Probe one crawl batch against the persisted index, append its
        survivors to the index and commit them to the table. The index
        and table carry over from batch to batch, as in production."""
        from pyspark.sql import functions as F

        from cpx_etl_spark.operators.dedup import (
            append_to_signature_index,
            cross_corpus_minhash_pairs_indexed,
            read_signature_index,
        )
        from cpx_etl_spark.sources.sinks import upsert_parquet_table

        call = os.path.basename(batch_dir)
        t0 = time.perf_counter()
        with self.tracer.span("batch", call=call, pass_no=p):
            stats: dict = {}
            with self.tracer.span("probe", phase="probe"):
                self._group(f"p{p}/{call}/probe")
                crawl = self.spark.read.parquet(batch_dir)
                index = read_signature_index(self.spark, self.index_path)
                pairs = cross_corpus_minhash_pairs_indexed(
                    crawl, index, stats=stats, **workloads.INGEST_PROBE).collect()
            dup_ids = sorted({r["doc_a"] for r in pairs})
            survivors = crawl.filter(~F.col("doc_id").isin(dup_ids))
            with self.tracer.span("append", phase="append"):
                self._group(f"p{p}/{call}/append")
                append_to_signature_index(survivors, self.index_path)
            with self.tracer.span("upsert", phase="upsert"):
                self._group(f"p{p}/{call}/upsert")
                upsert_parquet_table(survivors, self.table_path, keys=["doc_id"])
        dt = time.perf_counter() - t0
        if self.tracer.enabled:
            self.observed["candidates"] += sum(int(o.get["n"]) for o in stats.values())
            self.observed["pairs"] += len(pairs)
        self.ingested.append((batch_dir, pairs, dup_ids))
        return dt

    def run_pass(self, p: int, traced: bool) -> dict:
        import pyarrow.parquet as pq
        self.tracer.enabled = traced
        # candidate rows and confirmed pairs of the pass's traced probes
        self.observed = {"candidates": 0, "pairs": 0}
        rec: dict = {"pass": p, "traced": traced, "calls": []}
        ingest = self.w is workloads.INGEST
        if ingest:
            files_before = workloads.count_files(self.index_path, self.table_path)
        pids = proctree.tree()
        cpu0 = proctree.cpu_seconds(pids)
        t0 = time.perf_counter()
        with self.tracer.span("pass", pass_no=p):
            if ingest:  # the warm-up ingested the first batches
                rec["calls"].append(self._attempt(
                    self._ingest_batch, self.inputs.batch_dirs[self.w.warm_passes + p], p))
            else:
                for name in self.w.queries:
                    rec["calls"].append(self._attempt(self._query_call, p, name))
        rec["wall"] = time.perf_counter() - t0
        rec["cpu"] = proctree.cpu_seconds(proctree.tree()) - cpu0
        if ingest:
            rec["files_written"] = workloads.count_files(
                self.index_path, self.table_path) - files_before
            rec["index_files"] = workloads.count_files(self.index_path)
            batch_dir, pairs, dup_ids = self.ingested[-1]
            rec["out_rows"] = pq.read_metadata(
                os.path.join(batch_dir, "part-0.parquet")).num_rows - len(dup_ids)
        if traced:
            rec.update(self.observed)
            # jobs of later untraced passes must not inherit this pass's group
            self.spark.sparkContext.setJobGroup("untraced", "untraced")
        self.tracer.enabled = False
        return rec

    def _attempt(self, fn, *args) -> float | None:
        """One call; a failure is counted and never retried."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as e:  # noqa: BLE001 - counted and reported
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {str(e).splitlines()[0][:200]}")
            return None

    def measure(self) -> None:
        t_end = time.perf_counter() + self.args.seconds
        limit = (len(self.inputs.batch_dirs) - self.w.warm_passes
                 if self.w is workloads.INGEST else 10**6)
        p = 0
        while p < limit and (p < MIN_PASSES * (2 if self.traced else 1)
                             or time.perf_counter() < t_end):
            # traced invocations alternate untraced and traced passes so
            # the tracing overhead is measured inside one process
            self.passes.append(self.run_pass(p, traced=self.traced and p % 2 == 1))
            p += 1

    # -- layer probes (traced runs, outside the timed passes) -------------
    def probes(self) -> dict[str, float]:
        out = {"sources.scan_s": self._scan_floor(),
               "functions.xslt.us_per_row": self._xslt_us_per_row()}
        out["operators.dedup.sign_s"] = (
            self._sign_s() if self.w is workloads.INGEST else 0.0)
        return out

    def _scan_floor(self) -> float:
        from cpx_etl_spark.sources.registry import load_table

        self.spark.sparkContext.setJobGroup("probe/scan", "probe/scan")
        return median_time(lambda: [
            load_table(self.spark, self.inputs.corpus_dir, t)
            .write.format("noop").mode("overwrite").save() for t in self.w.tables])

    def _xslt_us_per_row(self) -> float:
        """Driver-side xslt_pipeline over a seeded sample of the
        corpus's order XML, with the q_xsl_execute chain."""
        import numpy as np
        import pyarrow.parquet as pq

        from cpx_etl_spark.functions.xslt import compile_stylesheet, xslt_pipeline
        from cpx_etl_spark.plans.xsl_chain import load_stylesheet_chain
        from cpx_etl_spark.queries.etl import _write_xsl_exec_control

        orders = pq.read_table(os.path.join(self.inputs.corpus_dir, "orders.parquet"))
        rng = np.random.default_rng(self.args.seed)
        take = rng.choice(orders.num_rows, size=min(300, orders.num_rows), replace=False)
        docs = [
            f'<order id="{o["o_orderkey"]}"><f n="status">{o["o_orderstatus"]}</f>'
            f'<f n="pri">{o["o_orderpriority"]}</f>'
            f'<f n="cents">{int(np.floor(o["o_totalprice"] * 100))}</f></order>'
            for o in orders.take(take).to_pylist()
        ]
        fns = [compile_stylesheet(s) for s in load_stylesheet_chain(_write_xsl_exec_control())]
        return median_time(lambda: [xslt_pipeline(d, fns) for d in docs]) / len(docs) * 1e6

    def _sign_s(self) -> float:
        """Shingle and sign the first crawl batch (band rows forced with
        a noop write): the signing share of a probe or append."""
        from cpx_etl_spark.operators.dedup import band_rows, minhash_signatures, shingle_rows

        prm = workloads.INGEST_PARAMS
        crawl = self.spark.read.parquet(self.inputs.batch_dirs[0])
        self.spark.sparkContext.setJobGroup("probe/sign", "probe/sign")
        sig = minhash_signatures(shingle_rows(crawl, "doc_id", "text", prm["n"]),
                                 "doc_id", prm["k"])
        return median_time(lambda: band_rows(sig, "doc_id", prm["k"], prm["bands"])
                           .write.format("noop").mode("overwrite").save())

    # -- correctness (outside the timed region) ---------------------------
    def check(self) -> tuple[int, dict[str, int]]:
        """Mismatch count and output rows per call."""
        self.spark.sparkContext.setJobGroup("check", "check")
        if self.w is workloads.INGEST:
            return self._check_ingest()
        import duckdb

        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from verify_oracles import compare, duck_con

        con: duckdb.DuckDBPyConnection = duck_con(self.inputs.corpus_dir)
        mismatches, rows = 0, {}
        for name in self.w.queries:
            got = self.results[name]
            try:
                if isinstance(got, Exception):
                    raise got
                want = con.execute(self.oracles[name]).fetch_df()
            except Exception as e:  # noqa: BLE001 - a failed check is a failure
                self.attempted += 1
                self.failed += 1
                self.errors.append(f"check {name}: {type(e).__name__}: {str(e)[:200]}")
                continue
            rows[name] = len(got)
            problems = compare(name, got, want)
            if problems:
                mismatches += 1
                print(f"MISMATCH {name}: {problems[0]}", file=sys.stderr)
        con.close()
        return mismatches, rows

    def _check_ingest(self) -> tuple[int, dict[str, int]]:
        """The last batch, as probed against the persisted index, against
        the recompute path over the corpus the index held at that batch;
        and the committed table against the standing corpus plus every
        survivor."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from cpx_etl_spark.operators.dedup import cross_corpus_minhash_pairs
        from cpx_etl_spark.sources.sinks import read_upsert_table

        docs = pq.read_table(os.path.join(self.inputs.corpus_dir, "documents.parquet"))
        held = [docs.filter(np.isin(docs["doc_id"].to_numpy(), self.inputs.standing_ids))]
        mismatches, rows = 0, {}
        for batch_dir, pairs, dup_ids in self.ingested:
            batch = pq.read_table(os.path.join(batch_dir, "part-0.parquet"))
            if batch_dir == self.ingested[-1][0]:
                ref_path = os.path.join(self.tmp, "check-ref.parquet")
                pq.write_table(pa.concat_tables(held), ref_path)
                want = cross_corpus_minhash_pairs(
                    self.spark.read.parquet(batch_dir), self.spark.read.parquet(ref_path),
                    "doc_id", "text", **workloads.INGEST_PARAMS,
                    **workloads.INGEST_PROBE).collect()
                canon = lambda rs: sorted((r["doc_a"], r["doc_b"], r["jaccard"]) for r in rs)  # noqa: E731
                if canon(want) != canon(pairs):
                    mismatches += 1
                    print(f"MISMATCH {os.path.basename(batch_dir)}: indexed "
                          f"{len(pairs)} pairs, recompute {len(want)}", file=sys.stderr)
            survivors = batch.filter(~np.isin(batch["doc_id"].to_numpy(), dup_ids))
            held.append(survivors)
            rows[os.path.basename(batch_dir)] = survivors.num_rows
        committed = read_upsert_table(self.spark, self.table_path).select("doc_id").collect()
        expected = sorted(i for t in held for i in t["doc_id"].to_pylist())
        if sorted(r["doc_id"] for r in committed) != expected:
            mismatches += 1
            print(f"MISMATCH table: {len(committed)} rows committed, "
                  f"{len(expected)} expected", file=sys.stderr)
        return mismatches, rows

    # -- teardown ----------------------------------------------------------
    def stop(self) -> None:
        """Stop the context and the JVM, and wait for every process this
        run started to end."""
        try:
            session.stop(self.spark)
        finally:
            self.spark = None


def end_to_end(b: Bench, mismatches: int) -> tuple[dict, list[tuple]]:
    """Metrics of the untraced passes: (name -> (value, unit)) for the
    JSON line, and further (name, value, unit, note) rows to print."""
    timed = [p for p in b.passes if not p["traced"]]
    wall = median(p["wall"] for p in timed)
    metrics = {
        "setup_s": (b.setup_s, "s"),
        "wall_s": (wall, "s"),
        "cpu_s": (median(p["cpu"] for p in timed), "s"),
    }
    # printed, not bounded: rows_per_s is wall_s inverted, and the JVM's
    # heap growth moves peak RSS by more than any allowed bound
    extra = [
        ("rows_per_s", b.inputs.input_rows / wall, "rows/s",
         f"{b.inputs.input_rows} input rows per pass"),
        ("peak_rss_mb", b.peak_rss / 2**20, "MB", "process tree, timed passes"),
    ]
    if b.w is workloads.INGEST:
        batches = [c for p in timed for c in p["calls"] if c is not None]
        t, pct, n = tail(batches)
        extra += [
            ("ingest_batch_s.p50", median(batches), "s", f"{n} batches"),
            ("ingest_batch_s.tail", t, "s", f"p{pct} of {n} batches" if t is not None
             else f"n/a: {n} batches leave fewer than ten beyond p50"),
        ]
    extra += [
        ("failed_frac", b.failed / max(b.attempted, 1), "ratio",
         f"{b.failed} of {b.attempted}"),
        ("result_mismatches", mismatches, "count", ""),
        ("gen_s", b.gen_s, "s", "input generation, not part of setup_s"),
        ("passes", len(timed), "count", ""),
    ]
    return metrics, extra


# every per-layer metric a traced run reports, with its unit
LAYER_UNITS = {
    "session.start_s": "s",
    "session.registry_s": "s",
    "session.index_build_s": "s",
    "session.warm_s": "s",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "spark.plan_s": "s",
    "plans.compile_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.core_busy_frac": "ratio",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.shuffle_rows_per_output_row": "ratio",
    "spark.python_stage_s": "s",
    "functions.xslt.us_per_row": "us",
    "sources.scan_s": "s",
    "operators.dedup.candidates": "count",
    "operators.dedup.candidates_per_dup": "ratio",
    "operators.dedup.sign_s": "s",
    "operators.dedup.probe_s": "s",
    "operators.dedup.append_s": "s",
    "sources.sinks.upsert_s": "s",
    "sources.files_written": "count",
    "sources.index_files": "count",
    "proc.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "trace.unattributed_frac": "ratio",
}


def per_layer(b: Bench, rows: dict[str, int], probes: dict[str, float]) -> dict:
    """Per-layer metrics of a traced invocation: the median over traced
    passes of each pass's total, joined to the event log by job group."""
    recs = b.tracer.spans
    by_id = {s["id"]: s for s in recs}
    for s in recs:  # tag each span with the pass it ran in
        anc = s
        while anc["name"] != "pass" and anc["parent"] is not None:
            anc = by_id[anc["parent"]]
        s["_pass"] = anc.get("pass_no")
    log = sorted(os.listdir(b.event_dir))[-1]  # the last set-up's session
    stats = eventlog.group_stats(eventlog.read_events(os.path.join(b.event_dir, log)))

    def groups(p: int, phase: str = "") -> list[str]:
        return [g for g in stats if g.startswith(f"p{p}/") and g.endswith(phase)]

    def span_sum(p: int, pred) -> float:
        return sum(spans.duration(s) for s in recs if s["_pass"] == p and pred(s))

    per_pass = []
    for rec in (r for r in b.passes if r["traced"]):
        p = rec["pass"]
        ev = eventlog.total(stats, groups(p))
        phase = lambda name: span_sum(p, lambda s: s.get("phase") == name)  # noqa: E731
        cand, pairs = rec["candidates"], rec["pairs"]
        per_pass.append({
            "queries.construct_s": phase("construct"),
            "queries.construct_jobs": eventlog.total(stats, groups(p, "/construct")).jobs,
            "spark.plan_s": phase("plan"),
            "plans.compile_s": span_sum(p, lambda s: s.get("layer") == "plans.compile"
                                        and by_id[s["parent"]].get("layer") != "plans.compile"),
            "spark.exec_s": phase("execute"),
            "spark.jobs": ev.jobs,
            "spark.stages": ev.stages,
            "spark.tasks": ev.tasks,
            "spark.failed_tasks": ev.failed_tasks,
            "spark.core_busy_frac": ev.run_ms / 1e3 / (rec["wall"] * b.cores),
            "spark.task_run_s": ev.run_ms / 1e3,
            "spark.task_cpu_s": ev.cpu_ns / 1e9,
            "spark.gc_s": ev.gc_ms / 1e3,
            "spark.shuffle_write_mb": ev.shuffle_write_bytes / 2**20,
            "spark.shuffle_read_mb": ev.shuffle_read_bytes / 2**20,
            "spark.spill_mb": ev.spill_bytes / 2**20,
            "spark.shuffle_rows_per_output_row":
                ev.shuffle_write_records / max(rec.get("out_rows", sum(rows.values())), 1),
            "spark.python_stage_s": ev.python_run_ms / 1e3,
            "operators.dedup.candidates": cand,
            "operators.dedup.candidates_per_dup": cand / pairs if pairs else 0.0,
            "operators.dedup.probe_s": phase("probe"),
            "operators.dedup.append_s": phase("append"),
            "sources.sinks.upsert_s": phase("upsert"),
            "sources.files_written": rec.get("files_written", 0),
            "sources.index_files": rec.get("index_files", 0),
            "wall": rec["wall"],
        })
    out = {k: median(pp[k] for pp in per_pass) for k in per_pass[0]}
    out["trace.overhead_s"] = out.pop("wall") - median(
        r["wall"] for r in b.passes if not r["traced"])
    # largest share of a call's traced wall time that its phase spans
    # leave uncovered
    self_t = spans.self_times(recs)
    out["trace.unattributed_frac"] = max(
        (self_t[s["id"]] / spans.duration(s) for s in recs if s["name"] in ("query", "batch")),
        default=0.0)
    for key in ("start", "registry"):
        out[f"session.{key}_s"] = median(s[key] for s in b.setup_times)
    out["session.index_build_s"] = b.index_build_s
    out["session.warm_s"] = b.warm_s
    out["proc.peak_rss_mb"] = b.peak_rss / 2**20
    out.update(probes)
    return {name: out[name] for name in LAYER_UNITS}


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    out_root = os.path.join(ROOT, ".perfbench")
    os.makedirs(out_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-s{args.seed}-", dir=out_root)
    isolate(tmp)
    b = Bench(args, tmp)
    try:
        t0 = time.perf_counter()
        b.inputs = workloads.generate(b.w, args.seed, os.path.join(tmp, "inputs"))
        b.gen_s = time.perf_counter() - t0
        b.set_up()
        t1 = time.perf_counter()
        # a full GC lets the JVM return set-up garbage before the timed
        # region, so peak_rss_mb reflects the passes, not set-up history
        b.spark._jvm.System.gc()
        with proctree.PeakRss() as rss:
            b.measure()
        b.peak_rss = rss.peak
        t2 = time.perf_counter()
        probes = b.probes() if b.traced else {}
        t3 = time.perf_counter()
        mismatches, rows = b.check()
        t4 = time.perf_counter()
        b.stop()
        print(f"phases: gen={b.gen_s:.1f}s setup={t1 - t0 - b.gen_s:.1f}s "
              f"measure={t2 - t1:.1f}s probes={t3 - t2:.1f}s check={t4 - t3:.1f}s "
              f"stop={time.perf_counter() - t4:.1f}s", file=sys.stderr)
        if b.attempted == b.failed:
            raise RuntimeError("every call failed: " + "; ".join(b.errors[:3]))
        e2e, extra = end_to_end(b, mismatches)
        for name, (value, unit) in e2e.items():
            print(f"{args.workload:20s} {name:28s} {value:14.6f} {unit}")
        for name, value, unit, note in extra:
            shown = "n/a" if value is None else f"{value:14.6f}"
            print(f"{args.workload:20s} {name:28s} {shown:>14s} {unit} {note}")
        for err in b.errors:
            print(f"FAILED {err}", file=sys.stderr)
        print("pass walls: " + " ".join(f"{p['wall']:.3f}" for p in b.passes), file=sys.stderr)
        for i, name in enumerate(b.w.queries or ["batch"]):
            ts = [p["calls"][i] for p in b.passes if p["calls"][i] is not None]
            print(f"call {name}: median {median(ts):.3f}s over {len(ts)}", file=sys.stderr)
        if b.traced:
            metrics = per_layer(b, rows, probes)
            for name, value in metrics.items():
                print(f"{args.workload:20s} {name:36s} {value:14.6f} {LAYER_UNITS[name]}")
            b.tracer.write(os.path.join(out_root, f"trace-{b.tracer.run_id}.jsonl"))
        else:
            metrics = {k: v for k, (v, _) in e2e.items()}
        result = {
            "correct": mismatches == 0,
            "attempted": b.attempted,
            "failed": b.failed,
            "metrics": {k: {"value": v, "unit": (LAYER_UNITS[k] if b.traced else e2e[k][1])}
                        for k, v in metrics.items()},
        }
    finally:
        try:
            b.stop()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
