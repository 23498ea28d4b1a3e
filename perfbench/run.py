"""Benchmark of the raster, query and ingest paths of the engine.

    python3 perfbench/run.py --workload raster_stats --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. One process, one closed-loop client:
each request starts after the previous one has finished. A request is
one raster job or one registered query. Requests are issued in
seeded cycles; the number of cycles is set from ``--seconds`` (see
CYCLE_SECONDS), so every run of a workload makes
the same requests and measures for about that long. Every result is
checked against an expected value computed outside the timed
intervals; a wrong result, an exception or a request slower than
REQUEST_TIMEOUT_S counts as failed.

With ``--trace 0`` the last stdout line carries the end-to-end
metrics; with ``--trace 1`` Spark's event log is on, each request runs
in its own job group and the last line carries the per-layer metrics.
The traced ``query_mix`` run then feeds a few seeded document batches
through the dedup-on-ingest screen, checks its reports and times the
ingest layers. The line before the last is a report with the run's
stamp (parallelism, nproc, load average, seed, versions, input sizes)
and the workload-specific figures. Scratch files live in ``.perfbench_work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import numpy as np
import pyarrow.parquet as pq

import check
import gen
import trace

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
REQUEST_TIMEOUT_S = 60.0

# one registered query per module (each matches its DuckDB oracle on
# the generated warehouse); dedup_clusters reads the process-level memo
# of functions.cache, which its first run builds. The list is short
# because each query's first run is part of set-up and costs one to
# nine seconds.
QUERY_MIX = (
    "band_stats_all",
    "q1_pricing_summary",
    "events_funnel",
    "dedup_clusters",
    "knn_bruteforce",
    "text_ngram_topk",
)
QUERY_MODULES = (
    "plans.tpch",
    "plans.events",
    "operators.band_stats",
    "operators.dedup",
    "operators.similarity",
    "operators.textanalysis",
)
WORKLOADS = ("raster_stats", "query_mix")
# the traced query_mix run's ingest probe: batches fed into a separate
# index first (the first batch pays the write paths' start-up), then
# the timed ones
WARM_BATCHES = 1
PROBE_BATCHES = 3
BATCH_DOCS = 500
# share of the planted near-duplicates the ingest report must flag;
# with 4 bands of 4 MinHash rows a pair of 8 or more words whose
# shingle sets differ by one is missed with probability under 5%
PLANTED_FLAGGED_MIN = 0.9
# Seconds one cycle of requests takes on 4 cores, with a margin for a
# slower host. The measured work is whole cycles, their number set from
# --seconds with these constants, so every run of a workload makes the
# same requests: the JVM keeps getting faster for minutes, and a
# time-bounded window would sample a different point of that curve on a
# slower or busier machine. At 25 seconds each workload makes 4 cycles
# of 6 requests; with ten samples kept above it, the tail percentile
# then falls inside a group of similar requests (the medium scenes; the
# three middle queries), not between two groups.
CYCLE_SECONDS = {
    "raster_stats": 7.0,
    "query_mix": 6.0,
}
PKG = "big_data_parallel_computing_hw2_spark"
# units of the workload-specific figures in the report line
REPORT_UNITS = {
    "failed_frac": "ratio",
    "peak_rss_mb": "MB",
    "raster_mb_per_s": "MB/s",
    "queries_per_s": "1/s",
    "docs_per_s": "1/s",
    "written_bytes_per_input_byte": "ratio",
    "host_speed_s_start": "s",
    "host_speed_s_end": "s",
}

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "input_mb_per_s": "MB/s",
}
RASTER_LAYERS = ("list_s", "read_s", "decode_s", "file_means_s", "compose_write_s")
PER_LAYER = {
    "session.build_s": "s",
    "session.warmup_s": "s",
    **{f"sources.raster.{k}": "s" for k in RASTER_LAYERS},
    **{f"{m}.{k}": "s" for m in QUERY_MODULES for k in ("plan_s", "exec_s")},
    "functions.cache.memo_hit_ratio": "ratio",
    "functions.cache.memo_hits": "count",
    "functions.cache.memo_builds": "count",
    "spark.jobs_per_request": "count",
    "spark.tasks_per_request": "count",
    "spark.driver_gap_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.cpu_busy_frac": "ratio",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "operators.dedup.minhash_delta_s": "s",
    "streaming.dedup_ingest.index_rows": "count",
    "streaming.dedup_ingest.index_bytes_written": "bytes",
    "streaming.dedup_ingest.report_write_s": "s",
    "streaming.dedup_ingest.index_write_s": "s",
    "trace.latency_mean_s": "s",
    "trace.unattributed_s": "s",
    "trace.plan_self_s": "s",
    "trace.exec_self_s": "s",
    "trace.job_self_s": "s",
    "trace.stage_s": "s",
}


def process_start_epoch() -> float:
    """Wall-clock time at which this process was started."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(l.split()[1]) for l in fh if l.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def host_speed_s() -> float:
    """Median time of a fixed single-thread Python loop. A slower or
    contended host shows here even when the load average does not,
    e.g. when other virtual machines share its cores."""
    def once() -> float:
        t = time.perf_counter()
        x = 0
        for i in range(500_000):
            x += i * i
        return time.perf_counter() - t

    return statistics.median(once() for _ in range(5))


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        kb = next(int(l.split()[1]) for l in fh if l.startswith("VmHWM"))
    return kb / 1024


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def hd_quantile(xs: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: the mean of all
    order statistics weighted by the Beta(p(n+1), (1-p)(n+1))
    distribution. A request mix has a cluster of latencies per request
    kind, and the one or two order statistics at ``p`` jump when two
    kinds trade places around it; this weighted mean moves smoothly."""
    xs = np.sort(np.asarray(xs, dtype=float))
    n = len(xs)
    if n == 1:
        return float(xs[0])
    a, b = p * (n + 1), (1 - p) * (n + 1)
    # the beta CDF by the trapezoid rule on a fine grid
    t = np.linspace(0.0, 1.0, 20001)[1:-1]
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    pdf = np.exp(log_pdf - log_pdf.max())
    cdf = np.concatenate(([0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)))
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, t, cdf, left=0.0, right=1.0)
    return float(np.diff(edges) @ xs)


def latency_tail(lat: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples above) at the highest percentile that
    still has at least ten samples above it, estimated as in
    ``hd_quantile``. Below 21 samples that percentile would be at or
    under the median, so the maximum is reported instead."""
    n = len(lat)
    if n < 21:
        return max(lat), 100.0, 0
    i = n - 11
    return hd_quantile(lat, i / (n - 1)), round(100.0 * i / (n - 1), 1), n - 1 - i


class Request:
    """One timed request: its latency, its spans and whether it failed."""

    def __init__(self, name: str, input_bytes: int, kind: int = 0):
        self.name, self.input_bytes, self.kind = name, input_bytes, kind
        self.phases: list[trace.Span] = []
        self.start = self.end = 0.0
        self.failed = False
        self.module = ""
        self.group = None

    @property
    def latency(self) -> float:
        return self.end - self.start


class Bench:
    def __init__(self, args):
        self.args = args
        self.rng = np.random.default_rng([args.seed, 0])
        self.run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{args.trace}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        self.inputs_s = 0.0  # input generation + expected results
        self.requests: list[Request] = []
        self.probes: list[Request] = []  # ingest batches of the traced query_mix run
        self.layers: dict[str, float] = {}
        self.report: dict = {}
        self.spark = None
        self.group = 0

    # -- helpers -------------------------------------------------------------

    def path(self, *parts) -> str:
        return os.path.join(self.run_dir, *parts)

    def cycle(self, n: int) -> list[int]:
        return [int(i) for i in self.rng.permutation(n)]

    def start_session(self):
        from big_data_parallel_computing_hw2_spark.session import build_session

        conf = {"spark.eventLog.enabled": "false"}
        if self.args.trace:
            os.makedirs(self.path("eventlog"))
            conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        t = time.perf_counter()
        self.spark = build_session("perfbench", extra_conf=conf)
        self.layers["session.build_s"] = time.perf_counter() - t
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()

    def timed(self, req: Request, body) -> Request:
        """Run ``body(req)`` as one request in its own job group."""
        sc = self.spark.sparkContext
        if self.args.trace:
            self.group += 1
            req.group = f"req{self.group}"
            sc.setJobGroup(req.group, req.name)
        req.start = time.time()
        try:
            body(req)
        except Exception as exc:  # noqa: BLE001 - a failed request is counted, the run goes on
            print(f"request {req.name} raised {exc!r}", file=sys.stderr)
            req.failed = True
        req.end = time.time()
        if self.args.trace:
            sc.setJobGroup("perfbench-untimed", "outside requests")
        if req.latency > REQUEST_TIMEOUT_S:
            req.failed = True
        return req

    def phase(self, req: Request, kind: str, fn):
        t0 = time.time()
        out = fn()
        req.phases.append(trace.Span(kind, t0, time.time()))
        return out

    def n_cycles(self) -> int:
        return max(1, round(self.args.seconds / CYCLE_SECONDS[self.args.workload]))

    def measure(self, n_kinds: int, one_request):
        """Seeded cycles over ``n_kinds`` request kinds."""
        for _ in range(self.n_cycles()):
            for k in self.cycle(n_kinds):
                self.requests.append(one_request(k))

    def record_failure(self, req: Request, problems: list[str]):
        if problems:
            req.failed = True
            print(f"request {req.name} wrong: {problems[:3]}", file=sys.stderr)

    # -- raster ----------------------------------------------------------------

    def raster(self):
        from big_data_parallel_computing_hw2_spark.sources import raster

        t = time.perf_counter()
        scenes = gen.make_scenes(self.path("scenes"), self.args.seed)
        expected = [check.raster_stats_expected(s.path) for s in scenes]
        self.inputs_s = time.perf_counter() - t
        self.report["input_bytes"] = sum(s.input_bytes for s in scenes)
        self.report["scenes"] = [(s.n_files, s.input_bytes) for s in scenes]
        self.start_session()

        def job(k: int, req: Request):
            df = self.phase(req, "plan", lambda: raster.raster_band_stats(
                self.spark, scenes[k].path))
            rows = self.phase(req, "exec", lambda: [tuple(r) for r in df.collect()])
            return lambda: check.check_raster_stats(rows, expected[k])

        def one_request(k: int) -> Request:
            req = Request(f"scene{k}", scenes[k].input_bytes, k)
            verdict = []
            self.timed(req, lambda r: verdict.append(job(k, r)))
            if verdict:
                self.record_failure(req, verdict[0]())
            return req

        t = time.perf_counter()
        # one small and one large scene: the first job pays the JVM and
        # Python-worker start-up, the second the large-input code paths
        for k in (0, len(scenes) - 1):
            if one_request(k).failed:
                raise RuntimeError(f"warm-up job on scene{k} failed")
        self.layers["session.warmup_s"] = time.perf_counter() - t
        self.ready()
        self.measure(len(scenes), one_request)
        self.window_done()
        if self.args.trace:
            self.raster_prefixes(raster, scenes)

    def raster_prefixes(self, raster, scenes):
        """Time the raster layers as prefixes of the pipeline, through
        the public functions, once per scene size (scenes of one size
        hold the same amount of data), and weight them by the requests
        made."""
        from pyspark.sql import functions as F

        def run(fn) -> float:
            t = time.perf_counter()
            fn()
            return time.perf_counter() - t

        per_size = {}
        for k, s in enumerate(scenes):
            if s.n_files in per_size:
                continue
            read = lambda: raster.read_raster_dir(self.spark, s.path)  # noqa: E731
            t_list = run(lambda: read().select("path", "length").collect())
            t_read = run(lambda: read().agg(F.sum(F.length("content"))).collect())
            t_decode = run(lambda: raster.decode_bands(read()).agg(
                F.sum(F.size("pixels"))).collect())
            t_stats = run(lambda: raster.raster_band_stats(self.spark, s.path).collect())
            out = self.path("prefix", f"c{k}")
            t_compose = run(lambda: raster.write_composites_parquet(
                raster.raster_color_composite(self.spark, s.path, self.path("composed")), out))
            per_size[s.n_files] = {
                "list_s": t_list,
                "read_s": t_read - t_list,
                "decode_s": t_decode - t_read,
                "file_means_s": t_stats - t_decode,
                "compose_write_s": t_compose - t_read,
            }
        for layer in RASTER_LAYERS:
            self.layers[f"sources.raster.{layer}"] = statistics.fmean(
                per_size[scenes[r.kind].n_files][layer] for r in self.requests
            )

    # -- query mix -------------------------------------------------------------

    def query_mix(self):
        import duckdb

        import __spark_entry__ as entry
        from tools.check_oracle import norm_rows

        from big_data_parallel_computing_hw2_spark.sources import tables as table_registry

        t = time.perf_counter()
        sf_dir = self.path("warehouse")
        tables = gen.make_warehouse(sf_dir, self.args.seed)
        # the program memoizes table relations only under its read-only
        # test warehouse root; the generated warehouse is just as
        # immutable for the run, so its scans take the same cached path
        table_registry.CACHE_ROOTS = (*table_registry.CACHE_ROOTS, sf_dir)
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for name, p in tables.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
        expected = {}
        for q in QUERY_MIX:
            if q == "dedup_clusters":
                # the same rows as its oracle, whose recursive CTE takes
                # seconds: components of the oracle's candidate pairs
                pairs = con.sql(oracles["dedup_minhash_lsh"]).fetchall()
                expected[q] = (["doc_id", "cluster_id"], check.components(pairs))
                continue
            rel = con.sql(oracles[q])
            expected[q] = (rel.columns, rel.fetchall())
        con.close()
        self.inputs_s = time.perf_counter() - t
        self.report["input_bytes"] = sum(os.path.getsize(p) for p in tables.values())
        self.report["queries"] = list(QUERY_MIX)
        self.start_session()
        from big_data_parallel_computing_hw2_spark.functions import cache

        registry = entry.queries()
        input_bytes = {}

        def one_request(k: int) -> Request:
            q = QUERY_MIX[k]
            req = Request(q, input_bytes.get(q, 0))
            req.module = registry[q].__module__.removeprefix(PKG + ".")
            out = {}

            def body(r):
                df = self.phase(r, "plan", lambda: registry[q](self.spark, sf_dir))
                out["cols"] = df.columns
                out["rows"] = self.phase(r, "exec", lambda: [tuple(x) for x in df.collect()])
                out["df"] = df

            self.timed(req, body)
            if "rows" in out:
                self.record_failure(req, check.check_query(
                    out["cols"], out["rows"], *expected[q], norm_rows))
                if q not in input_bytes:
                    input_bytes[q] = sum(
                        os.path.getsize(f.removeprefix("file:"))
                        for f in out["df"].inputFiles()
                    )
                    req.input_bytes = input_bytes[q]
            return req

        t = time.perf_counter()
        memo_mark = len(cache.MEMO_LOG)
        self.report["warmup_query_s"] = {}
        for k, q in enumerate(QUERY_MIX):
            req = one_request(k)
            if req.failed:
                raise RuntimeError(f"warm-up query {q} failed")
            self.report["warmup_query_s"][q] = req.latency
        self.layers["session.warmup_s"] = time.perf_counter() - t
        self.report["memo_setup_builds"] = sum(
            1 for _, ev in cache.MEMO_LOG[memo_mark:] if ev == "build"
        )
        memo_mark = len(cache.MEMO_LOG)
        self.ready()
        self.measure(len(QUERY_MIX), one_request)
        self.window_done()
        events = [ev for _, ev in cache.MEMO_LOG[memo_mark:]]
        hits, builds = events.count("hit"), events.count("build")
        self.layers["functions.cache.memo_hits"] = hits
        self.layers["functions.cache.memo_builds"] = builds
        self.layers["functions.cache.memo_hit_ratio"] = hits / len(events) if events else 0.0
        self.report["queries_per_s"] = len(self.requests) / sum(
            r.latency for r in self.requests
        )
        for m in QUERY_MODULES:
            reqs = [r for r in self.requests if r.module == m]
            for kind in ("plan", "exec"):
                self.layers[f"{m}.{kind}_s"] = statistics.fmean(
                    [sum(p.dur for p in r.phases if p.kind == kind) for r in reqs]
                ) if reqs else 0.0
        if self.args.trace:
            self.ingest_probe()

    # -- ingest ----------------------------------------------------------------

    def ingest_probe(self):
        """Feed seeded document batches through
        ``streaming.dedup_ingest.apply_ingest_batch`` into a fresh index,
        check every batch's report and time the ingest layers. Each batch
        counts as an attempted request of the run; none is in the
        per-request figures."""
        from pyspark.sql import functions as F

        from big_data_parallel_computing_hw2_spark.operators.dedup import (
            minhash_index_delta,
        )
        from big_data_parallel_computing_hw2_spark.streaming import dedup_ingest

        n = PROBE_BATCHES
        batches, planted = gen.make_doc_batches(
            self.path("docs"), self.args.seed, n + WARM_BATCHES)
        batches, warm = batches[:n], batches[n:]
        planted = [(d, s) for d, s in planted if d < BATCH_DOCS * n]
        oracle = self.ingest_oracle(batches)
        index_dir, report_dir = self.path("index"), self.path("report")
        for b, path in enumerate(warm):
            dedup_ingest.apply_ingest_batch(
                self.spark.read.parquet(path), b, self.path("warm_index"),
                self.path("warm_report"),
            )
        delta_s, index_bytes = [], []
        for b, path in enumerate(batches):
            df = self.spark.read.parquet(path)
            req = Request(f"batch{b}", os.path.getsize(path))
            self.timed(req, lambda r: dedup_ingest.apply_ingest_batch(
                df, b, index_dir, report_dir))
            self.probes.append(req)
            index_bytes.append(dir_bytes(os.path.join(index_dir, f"v{b + 1}")))
            t = time.perf_counter()
            minhash_index_delta(self.spark, df).agg(F.count("*")).collect()
            delta_s.append(time.perf_counter() - t)
        expected: dict[int, list] = {}
        for doc_id, dup_of in oracle.items():
            expected.setdefault(doc_id // BATCH_DOCS, []).append((doc_id, dup_of))
        got_all = []
        for b, req in enumerate(self.probes):
            got = pq.read_table(os.path.join(report_dir, f"batch{b}"))
            got = list(zip(got["doc_id"].to_pylist(), got["dup_of"].to_pylist()))
            got_all += got
            self.record_failure(req, check.check_ingest(got, expected.get(b, [])))
        problems = check.check_planted(got_all, planted, PLANTED_FLAGGED_MIN)
        if problems:
            for req in self.probes:
                self.record_failure(req, problems)
        in_bytes = sum(r.input_bytes for r in self.probes)
        self.report.update(
            ingest_latencies_s=[[r.name, round(r.latency, 4)] for r in self.probes],
            flagged_docs=sum(d is not None for _, d in got_all),
            planted_docs=len(planted),
            docs_per_s=BATCH_DOCS * n / sum(r.latency for r in self.probes),
            written_bytes_per_input_byte=(
                dir_bytes(index_dir) + dir_bytes(report_dir)) / in_bytes,
        )
        self.layers["operators.dedup.minhash_delta_s"] = statistics.fmean(delta_s)
        self.layers["streaming.dedup_ingest.index_bytes_written"] = statistics.fmean(index_bytes)
        self.layers["streaming.dedup_ingest.index_rows"] = dedup_ingest._read_index(
            self.spark, index_dir).count()
        self.ingest_writes = (index_dir, report_dir)

    @staticmethod
    def ingest_oracle(batches: list[str]) -> dict[int, int | None]:
        """The one-shot screen of every document in ``batches``, from the
        DuckDB oracle of the MinHash LSH candidate pairs. The module's
        in-order contract says the streamed report equals it, as does
        ``recanonicalize`` of the final index."""
        import duckdb

        import __spark_entry__ as entry

        con = duckdb.connect()
        files = ", ".join(f"'{p}'" for p in batches)
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet([{files}])")
        pairs = con.sql(entry.oracle_sql()["dedup_minhash_lsh"]).fetchall()
        doc_ids = [r[0] for r in con.sql("SELECT doc_id FROM documents").fetchall()]
        con.close()
        return check.ingest_expected(pairs, doc_ids)

    # -- run -------------------------------------------------------------------

    def ready(self):
        self.t_ready = time.time()
        self.report["load_avg_ready"] = os.getloadavg()

    def window_done(self):
        self.peak_rss_mb = vm_hwm_mb("self") + vm_hwm_mb(self.jvm_pid)

    def end_to_end(self, setup_s: float) -> dict[str, float]:
        lat = [r.latency for r in self.requests]
        tail, pct, above = latency_tail(lat)
        self.report.update(
            peak_rss_mb=self.peak_rss_mb,
            latencies_s=[[r.name, round(r.latency, 4)] for r in self.requests],
            latency_tail_pct=pct, latency_tail_samples_above=above, requests=len(lat),
            failed_frac=sum(r.failed for r in self.requests + self.probes)
            / (len(lat) + len(self.probes)),
        )
        mb_per_s = sum(r.input_bytes for r in self.requests) / 1e6 / sum(lat)
        if self.args.workload == "raster_stats":
            self.report["raster_mb_per_s"] = mb_per_s
        return {
            "setup_s": setup_s,
            "latency_p50_s": hd_quantile(lat, 0.5),
            "latency_tail_s": tail,
            "input_mb_per_s": mb_per_s,
        }

    def per_layer(self, log: trace.EventLog) -> dict[str, float]:
        """Per-request means of the engine figures and of the self
        times along each request's blocking path."""
        sums: dict[str, float] = {}
        cores = self.spark_cores
        for req in self.requests:
            root = trace.request_tree(log, req.group, req.start, req.end, req.phases)
            st = trace.self_times(root)
            jobs = trace.jobs_of(log, req.group)
            flat = trace.Span("request", req.start, req.end,
                              [trace.Span("job", j["start"], j["end"]) for j in jobs])
            gap = trace.self_times(flat)["request"]
            m = {
                "spark.jobs_per_request": len(jobs),
                "spark.driver_gap_s": gap,
                "trace.latency_mean_s": req.latency,
                "trace.unattributed_s": st.get("request", 0.0),
                "trace.plan_self_s": st.get("plan", 0.0),
                "trace.exec_self_s": st.get("exec", 0.0),
                "trace.job_self_s": st.get("job", 0.0),
                "trace.stage_s": st.get("stage", 0.0),
            }
            for key, name in (
                ("tasks", "spark.tasks_per_request"),
                ("cpu_s", "spark.executor_cpu_s"),
                ("gc_s", "spark.gc_s"),
                ("shuffle_write_bytes", "spark.shuffle_write_bytes"),
                ("spill_bytes", "spark.spill_bytes"),
            ):
                m[name] = sum(j["metrics"].get(key, 0) for j in jobs)
            m["spark.cpu_busy_frac"] = m["spark.executor_cpu_s"] / (req.latency * cores)
            for k, v in m.items():
                sums[k] = sums.get(k, 0.0) + v
        n = len(self.requests)
        out = {k: v / n for k, v in sums.items()}
        if self.probes:
            for name, target in zip(("index_write_s", "report_write_s"), self.ingest_writes):
                spans = [
                    s["end"] - s["start"] for s in log.sql.values()
                    if s["end"] is not None and s["target"]
                    and s["target"].startswith(target + os.sep)
                ]
                out[f"streaming.dedup_ingest.{name}"] = sum(spans) / len(self.probes)
        return out


def stop_spark(spark):
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    t_start = process_start_epoch()
    if not os.path.isfile(os.path.join(ROOT, PKG, "session.py")):
        print(f"no {PKG} package under {ROOT}: run from the repository root",
              file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    env_cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    cpus = min(int(env_cpus), nproc) if env_cpus.isdigit() else nproc
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every file the run writes inside the checkout
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path.insert(0, ROOT)
    import pyspark

    load_start = os.getloadavg()
    t = time.perf_counter()
    speed_start = host_speed_s()
    speed_time = time.perf_counter() - t
    bench = Bench(args)
    try:
        {
            "raster_stats": bench.raster,
            "query_mix": bench.query_mix,
        }[args.workload]()
        bench.spark_cores = bench.spark.sparkContext.defaultParallelism
        setup_s = bench.t_ready - t_start - bench.inputs_s - speed_time
        e2e = bench.end_to_end(setup_s)
    finally:
        if bench.spark is not None:
            stop_spark(bench.spark)
    if args.trace:
        log = trace.parse_event_log(bench.path("eventlog"))
        layers = {k: 0.0 for k in PER_LAYER}
        layers.update(bench.layers)
        layers.update(bench.per_layer(log))
        metrics = layers
    else:
        metrics = e2e
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "parallelism": bench.spark_cores,
        "spark_graft_cpus": cpus,
        "nproc": nproc,
        "load_avg_start": load_start,
        "host_speed_s_start": speed_start,
        "host_speed_s_end": host_speed_s(),
        "load_avg_end": os.getloadavg(),
        "pyspark": pyspark.__version__,
        "inputs_s": bench.inputs_s,
        **bench.report,
        **{k: e2e[k] for k in END_TO_END},
        "session_build_s": bench.layers["session.build_s"],
        "session_warmup_s": bench.layers["session.warmup_s"],
    }
    report["units"] = {
        **{k: u for k, u in REPORT_UNITS.items() if k in report},
        **END_TO_END,
    }
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    base = os.path.join(results, f"{args.workload}-seed{args.seed}")
    other = f"{base}-trace{1 - args.trace}.json"
    if os.path.exists(other):
        with open(other) as fh:
            untraced, traced = (json.load(fh), report)[:: 1 if args.trace else -1]
        report["tracing_overhead_frac"] = (
            traced["latency_p50_s"] / untraced["latency_p50_s"] - 1
        )
    with open(f"{base}-trace{args.trace}.json", "w") as fh:
        json.dump(report, fh, indent=1)
    shutil.rmtree(bench.run_dir, ignore_errors=True)
    print(json.dumps(report))
    print(json.dumps(result_line(bench.requests + bench.probes, metrics, PER_LAYER if args.trace else END_TO_END)))
    return 0


def result_line(requests: list[Request], values: dict, units: dict) -> dict:
    """The last stdout line: the failure count and every metric named in
    ``units`` with its value and unit."""
    failed = sum(r.failed for r in requests)
    return {
        "correct": failed == 0,
        "attempted": len(requests),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
