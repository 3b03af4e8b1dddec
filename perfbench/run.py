#!/usr/bin/env python3
"""Closed-loop benchmark of the engine, one workload per run.

    python3 perfbench/run.py --workload fin_report --seed 1 --seconds 30 --trace 0

One client runs one request at a time against ``local[nproc]``. A
request is (1) build the plan -- ``QUERIES[key].fn(spark, sf_dir)``, or
``runner.run_report`` for report requests -- and (2) deliver the rows
with ``collect()``; only (1) and (2) are timed. After the timer stops,
(3) ``release_operator_caches()`` releases operator caches and the
result is checked against a DuckDB oracle computed before any timing.
A wrong result or an exception is a failed request, in the untimed
warm pass too.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The line before it holds the
``env`` block and run details. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "bigdata_financial_reporting_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
SF = 0.1
#: Generator seed of the fixture tables. The tables are fixed; --seed
#: drives the request order and the report's market data.
TABLE_SEED = 42
#: A run stops starting timed rounds this long after it started, once
#: it has its minimum rounds, so that on a slow host a run still takes
#: about a minute and a comparison of four dozen runs fits in an hour.
DEADLINE_S = 56.0
#: A timed round during which the hypervisor gave more than this share
#: of the host's CPU time to other guests does not count towards
#: --seconds. On a shared 4-vCPU VM every 1% of steal made requests
#: about 2.7% slower (see perfbench/STABILITY.md).
STEAL_LIMIT = 0.03

E2E_UNITS = {
    "setup_s": "s",
    "request_p50_s": "s",
    "request_tail_s": "s",
    "request_geomean_s": "s",
    "requests_per_s": "1/s",
    "oracle_ok_ratio": "ratio",
}

#: Operator modules the workloads call; each gets .s, .calls and .jobs.
OPERATOR_MODULES = ["cache", "rollup_ts", "similarity", "text"]

LAYER_UNITS = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "jvm.peak_rss_mb": "MB",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "runner.report_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.empty_task_ratio": "ratio",
    "spark.driver_gap_s": "s",
    "spark.stage_busy_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.task_skew": "ratio",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "sources.input_bytes": "bytes",
    "sources.input_rows": "count",
    "sources.read_csv_s": "s",
    "sources.write_s": "s",
    "sources.output_bytes": "bytes",
    "sources.output_rows": "count",
    "sources.write_rows_per_result_row": "ratio",
    **{
        f"operators.{m}.{k}": u
        for m in OPERATOR_MODULES
        for k, u in (("s", "s"), ("calls", "count"), ("jobs", "count"))
    },
    "operators.cache.frames": "count",
    "operators.cache.storage_bytes": "bytes",
    "operators.cache.release_s": "s",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.state_rows": "count",
    "client.collect_s": "s",
    "client.result_rows": "count",
    "trace.overhead_ratio": "ratio",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_times() -> list[int]:
    """The host's aggregate CPU time counters (``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_ratio(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between.
    On a shared VM it is the main reason whole runs slow down."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=SF, help="scale factor of the tables")
    p.add_argument(
        "--corrupt-digest", default=None, metavar="KEY",
        help="self-test hook: replace KEY's oracle digest with a wrong one",
    )
    return p.parse_args(argv)


def isolate(run_dir: str) -> None:
    """Keep temp files of Python, DuckDB, the JVM and Spark in the run dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")


def prepare_tables(sf: float) -> str:
    """Write the fixture tables once per scale factor; reuse after."""
    import datagen

    out = os.path.join(WORK, f"tables-sf{sf:g}-seed{TABLE_SEED}")
    marker = os.path.join(out, "_COMPLETE")
    if not os.path.exists(marker):
        tmp = f"{out}.partial-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.write_tables(tmp, sf, TABLE_SEED)
        open(os.path.join(tmp, "_COMPLETE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    return out


def pooled_tail(lat: list[float]) -> tuple[float, float]:
    """(latency, percentile) at the highest percentile of all samples
    with at least ten samples above it (the maximum with ten or fewer).
    Reported in the detail line only: with a few samples of a few keys
    it falls between two keys' latency clusters and jumps between them
    from run to run."""
    s = sorted(lat)
    k = len(s) - 11
    return (s[k], 100.0 * (k + 1) / len(s)) if k >= 0 else (s[-1], 100.0)


def slowest_fifth_mean(lat: list[float]) -> float:
    """Mean latency of the slowest fifth of the requests (at least one):
    a tail that sits well above the median, and moves less from run to
    run than the single slowest request."""
    s = sorted(lat)
    return statistics.fmean(s[-max(1, round(len(s) / 5)):])


class Bench:
    def __init__(self, args, run_dir: str):
        import datagen
        import duckdb

        from bigdata_financial_reporting_spark import oracle_compare as oc
        from bigdata_financial_reporting_spark.queries import QUERIES
        import workloads as wl

        self.args, self.run_dir, self.oc, self.wl = args, run_dir, oc, wl
        self.QUERIES = QUERIES
        self.keys = wl.WORKLOADS[args.workload]
        self.sf_dir = prepare_tables(args.sf)
        self.csv_path = os.path.join(run_dir, "market_data.csv")
        self.dates = datagen.write_market_csv(self.csv_path, args.seed)
        self.assets = list(datagen.ASSETS)
        self.schedule = wl.schedule(self.keys, args.seed, len(self.dates))

        # Oracle digests, once, before any timing.
        self.duck = duckdb.connect()
        oc.tune_duck(self.duck)
        self.duck.execute(f"SET threads = {nproc()}")
        for t in datagen.TABLES:
            self.duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        t0 = time.perf_counter()
        self.digests = {}
        for key in self.keys:
            if key != wl.REPORT:
                self.digests[key] = oc.canon_digest(*oc.fetch_duck(self.duck, QUERIES[key].oracle))
        # The report's expected rows, for every report request scheduled.
        self.report_expect = {}
        if wl.REPORT in self.keys:
            wl.load_market(self.duck, self.csv_path, self.assets)
            for req in (r for rnd in self.schedule for r in rnd if r.key == wl.REPORT):
                self.report_expect[req.rid] = wl.report_oracle(
                    self.duck, self.assets, *self.date_range(req)
                )
        if args.corrupt_digest == wl.REPORT:
            for rid, (daily, avg_row) in self.report_expect.items():
                self.report_expect[rid] = (daily, tuple(v + 1.0 for v in avg_row))
        elif args.corrupt_digest:
            self.digests[args.corrupt_digest] = dict(
                self.digests[args.corrupt_digest], canon_sha="0" * 64
            )
        self.oracle_s = time.perf_counter() - t0
        self.tracer = self.probe = None

    def date_range(self, req) -> tuple[str, str]:
        return tuple(self.dates[i].isoformat() for i in req.date_range)

    # -- session -----------------------------------------------------------
    def start_session(self):
        from bigdata_financial_reporting_spark.session import get_session

        t0 = time.perf_counter()
        self.spark = get_session(
            "perfbench",
            master=f"local[{nproc()}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                # No hsperfdata file in /tmp; JVM temp files in the run dir.
                "spark.driver.extraJavaOptions": (
                    f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
                ),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                proc.wait(timeout=60)

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    # -- one request -------------------------------------------------------
    def _span(self, name, layer):
        return self.tracer.open(name, layer) if self.tracer and self.tracer.recording else None

    def _end(self, span):
        if span is not None:
            self.tracer.close(span)

    def run(self, req, traced: bool = False) -> dict:
        """Run one request; returns its record (latency, ok, ...)."""
        from bigdata_financial_reporting_spark.operators.cache import release_operator_caches
        from bigdata_financial_reporting_spark.runner import run_report

        wl, sc = self.wl, self.spark.sparkContext
        rec = {"rid": req.rid, "key": req.key, "ok": False, "error": None}
        df = rows = summary = None
        if traced:
            self.tracer.begin_request()
        root = self._span("request", "client")
        sc.setJobGroup(req.rid, req.key)
        e0 = time.time()
        t0 = time.perf_counter()
        try:
            if req.key == wl.REPORT:
                lo, hi = self.date_range(req)
                out_dir = os.path.join(self.run_dir, "reports", req.rid)
                sp = self._span("runner.run_report", "runner")
                try:
                    summary = run_report(self.spark, self.csv_path, lo, hi, out_dir)
                finally:
                    self._end(sp)
            else:
                sp = self._span("queries.build", "queries")
                try:
                    df = self.QUERIES[req.key].fn(self.spark, self.sf_dir)
                finally:
                    self._end(sp)
                sp = self._span("client.collect", "client")
                try:
                    rows = df.collect()
                finally:
                    self._end(sp)
            rec["latency_s"] = time.perf_counter() - t0
        except Exception as exc:  # a failed request is counted, not fatal
            rec["latency_s"] = time.perf_counter() - t0
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
            rec["raised"] = True
        finally:
            self._end(root)
        e1 = time.time()
        spans = self.tracer.end_request() if traced else None
        if traced:
            rec["storage_bytes"] = self.probe.storage_bytes()
        t = time.perf_counter()
        rec["cache_frames"] = release_operator_caches()
        rec["release_s"] = time.perf_counter() - t

        if rec["error"] is None:
            rec["error"] = self.check(req, df, rows, summary, rec)
            rec["ok"] = rec["error"] is None
        if traced:
            self.trace_record(rec, spans, df, e0, e1)
        if req.key == wl.REPORT:
            shutil.rmtree(os.path.join(self.run_dir, "reports", req.rid), ignore_errors=True)
        return rec

    def check(self, req, df, rows, summary, rec) -> str | None:
        oc, wl = self.oc, self.wl
        if req.key == wl.REPORT:
            daily, avg_row = self.report_expect[req.rid]
            rec["result_rows"] = summary["daily_returns_count"] + 1
            return wl.check_report(summary, self.assets, daily, avg_row)
        rec["result_rows"] = len(rows)
        got = oc.canon_digest(df.columns, [tuple(r) for r in rows])
        entry = oc.compare_digest_entry(got, self.digests[req.key])
        return None if oc.entry_green(entry) else f"oracle mismatch {entry}"

    # -- traced record -------------------------------------------------------
    def trace_record(self, rec, spans, df, e0, e1) -> None:
        import tracing

        jobs = self.probe.new_jobs()
        stages = self.probe.stages(jobs, e0)
        rec["spark"] = tracing.stage_counters(stages, e0, e1)
        rec["spark"]["jobs"] = len(jobs)
        rec["catalyst"] = tracing.catalyst_phases(df) if df is not None else None
        selfs = tracing.self_times(spans)
        layers: dict[str, float] = {}
        calls: dict[str, int] = {}
        stream = dict.fromkeys(("batches", "batch_s", "state_rows"), 0)
        for s in spans:
            key = tracing.layer_key(s)
            layers[key] = layers.get(key, 0.0) + selfs[s.id]
            calls[key] = calls.get(key, 0) + 1
            for a in stream:
                stream[a] += s.attrs.get(a, 0)
        # Jobs go to the innermost span open when they were submitted;
        # build jobs are those submitted inside step 1.
        job_layers: dict[str, int] = {}
        build = [s for s in spans if s.name in ("queries.build", "runner.run_report")]
        build_jobs = 0
        for j in jobs:
            t = tracing.epoch(j.get("submissionTime"))
            inner = tracing.innermost(spans, t) if t is not None else None
            if inner is not None:
                job_layers[inner.layer] = job_layers.get(inner.layer, 0) + 1
            if t is not None and any(b.start - 0.001 <= t <= b.end + 0.001 for b in build):
                build_jobs += 1
        rec.update(
            layers_self_s=layers, layer_calls=calls, job_layers=job_layers,
            build_jobs=build_jobs, stream=stream,
        )
        rec["spans"] = [s.as_dict() | {"self_s": selfs[s.id]} for s in spans]
        root = next(s for s in spans if s.parent is None)
        rec["self_sum_s"] = sum(selfs.values())
        rec["root_s"] = root.end - root.start


def geomean(xs):
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def layer_metrics(traced: list[dict], setup: dict, overhead: float, peak_rss: float) -> dict:
    n = len(traced)

    def mean(f):
        return sum(f(r) for r in traced) / n

    def lay(key):
        return mean(lambda r: r["layers_self_s"].get(key, 0.0))

    sp = lambda name: mean(lambda r: r["spark"][name])  # noqa: E731
    with_df = [r for r in traced if r.get("catalyst")]
    cat = lambda ph: (  # noqa: E731
        sum(r["catalyst"].get(ph, 0.0) for r in with_df) / len(with_df) if with_df else 0.0
    )
    tasks = sum(r["spark"]["tasks"] for r in traced)
    result_rows = sum(r.get("result_rows", 0) for r in traced)
    out_rows = sum(r["spark"]["output_rows"] for r in traced)
    m = {
        "session.start_s": setup["start_s"],
        "session.warm_s": setup["warm_s"],
        "jvm.peak_rss_mb": peak_rss,
        "queries.build_s": lay("queries.build"),
        "queries.build_jobs": mean(lambda r: r["build_jobs"]),
        "runner.report_s": lay("runner.run_report"),
        "catalyst.analysis_s": cat("analysis"),
        "catalyst.optimization_s": cat("optimization"),
        "catalyst.planning_s": cat("planning"),
        "spark.jobs": sp("jobs"),
        "spark.stages": sp("stages"),
        "spark.tasks": sp("tasks"),
        "spark.empty_task_ratio": (
            sum(r["spark"]["empty_tasks"] for r in traced) / tasks if tasks else 0.0
        ),
        "spark.driver_gap_s": sp("driver_gap_s"),
        "spark.stage_busy_s": sp("stage_busy_s"),
        "spark.executor_run_s": sp("executor_run_s"),
        "spark.executor_cpu_s": sp("executor_cpu_s"),
        "spark.shuffle_read_bytes": sp("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": sp("shuffle_write_bytes"),
        "spark.task_skew": sp("task_skew"),
        "spark.spill_bytes": sp("spill_bytes"),
        "spark.gc_s": sp("gc_s"),
        "spark.failed_tasks": sp("failed_tasks"),
        "sources.input_bytes": sp("input_bytes"),
        "sources.input_rows": sp("input_rows"),
        "sources.read_csv_s": lay("sources.read_csv"),
        "sources.write_s": lay("sources.write"),
        "sources.output_bytes": sp("output_bytes"),
        "sources.output_rows": sp("output_rows"),
        "sources.write_rows_per_result_row": out_rows / result_rows if result_rows else 0.0,
        "operators.cache.frames": mean(lambda r: r["cache_frames"]),
        "operators.cache.storage_bytes": mean(lambda r: r["storage_bytes"]),
        "operators.cache.release_s": mean(lambda r: r["release_s"]),
        "streaming.drain_s": lay("streaming"),
        "streaming.batches": mean(lambda r: r["stream"]["batches"]),
        "streaming.batch_s": mean(lambda r: r["stream"]["batch_s"]),
        "streaming.state_rows": mean(lambda r: r["stream"]["state_rows"]),
        "client.collect_s": lay("client.collect"),
        "client.result_rows": mean(lambda r: r.get("result_rows", 0)),
        "trace.overhead_ratio": overhead,
    }
    for mod in OPERATOR_MODULES:
        layer = f"operators.{mod}"
        m[f"{layer}.s"] = lay(layer)
        m[f"{layer}.calls"] = mean(lambda r: r["layer_calls"].get(layer, 0))
        m[f"{layer}.jobs"] = mean(lambda r: r["job_layers"].get(layer, 0))
    return {k: {"value": m[k], "unit": u} for k, u in LAYER_UNITS.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"engine package {PACKAGE!r} not found under {ROOT}; nothing to measure")
        return 2
    sys.path.insert(0, ROOT)
    import workloads as wl

    if args.workload not in wl.WORKLOADS:
        log(f"unknown workload {args.workload!r}; known: {sorted(wl.WORKLOADS)}")
        return 2
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=WORK)
    isolate(run_dir)
    started = time.perf_counter()
    bench = None
    try:
        bench = Bench(args, run_dir)
        result = measure(bench, args, started)
    finally:
        if bench is not None:
            if getattr(bench, "spark", None) is not None:
                bench.stop_session()
            bench.duck.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result["detail"]), flush=True)
    print(json.dumps(result["final"]), flush=True)
    return 0


def measure(bench: Bench, args, started: float) -> dict:
    import tracing
    import workloads as wl

    from bigdata_financial_reporting_spark.oracle_compare import provenance

    init_s = time.perf_counter() - started
    setup = {"start_s": bench.start_session()}
    spark = bench.spark
    gen = iter(bench.schedule)

    # Set-up: one untimed warm pass over the workload's requests. Its
    # requests are checked and counted like the timed ones; only their
    # latencies stay out of the metrics.
    t0 = time.perf_counter()
    warm = [bench.run(r) | {"round": "warm"} for r in next(gen)]
    setup["warm_s"] = time.perf_counter() - t0
    warm_failed = [r["key"] for r in warm if not r["ok"]]
    log(f"setup {setup['start_s']:.2f}s + warm {setup['warm_s']:.2f}s; warm failures {warm_failed}")

    # An untraced run settles before timing: untimed rounds, checked
    # and counted like the others.
    settle = []
    for _ in range(0 if args.trace else wl.SETTLE_ROUNDS):
        settle += [bench.run(r) | {"round": "settle"} for r in next(gen)]

    if args.trace:
        bench.tracer = tracing.Tracer()
        bench.probe = tracing.SparkProbe(spark)
    # Timed loop. A traced run plays one untraced settling round, then
    # rounds traced, untraced, untraced, traced (repeating) in the same
    # session, so the overhead ratio compares like with like and the
    # JIT still warming in the first rounds favours neither side.
    # An untraced run stops once its clean rounds (steal at most
    # STEAL_LIMIT) hold --seconds of request time.
    plain, traced, rounds = [], [], 0
    round_steal: dict[int, float] = {}
    round_s: dict[int, float] = {}
    cpu0 = cpu_times()
    spent = 0.0
    min_rounds = 5 if args.trace else wl.MIN_ROUNDS
    while True:
        clean_s = spent if args.trace else sum(
            round_s[r] for r, s in round_steal.items() if s <= STEAL_LIMIT
        )
        if rounds >= min_rounds and clean_s >= args.seconds:
            break
        if rounds >= min_rounds and time.perf_counter() - started > DEADLINE_S:
            log("deadline reached; stopping after complete rounds")
            break
        batch = next(gen, None)
        if batch is None:
            log(f"schedule of {wl.MAX_ROUNDS} rounds used up")
            break
        trace_round = bool(args.trace) and rounds > 0 and (rounds - 1) % 4 in (0, 3)
        if trace_round:
            bench.tracer.install()
            bench.probe.skip_to_now()
        c0 = cpu_times()
        t0 = spent
        try:
            for req in batch:
                rec = bench.run(req, traced=trace_round)
                rec["round"] = rounds
                (traced if trace_round else plain).append(rec)
                spent += rec["latency_s"]
        finally:
            if trace_round:
                bench.tracer.uninstall()
        round_steal[rounds] = steal_ratio(c0, cpu_times())
        round_s[rounds] = spent - t0
        rounds += 1
    steal = steal_ratio(cpu0, cpu_times())
    # Timing metrics come from the clean rounds, or from the least
    # stolen min_rounds rounds when fewer are clean.
    clean = sum(s <= STEAL_LIMIT for s in round_steal.values())
    if not args.trace and clean < min_rounds:
        log(f"{rounds - clean} of {rounds} rounds over the steal limit; using the least stolen")
    n_used = rounds if args.trace else max(min_rounds, clean)
    used = set(sorted(round_steal, key=lambda r: (round_steal[r], r))[:n_used])
    timed = [r for r in plain if r["round"] in used]

    done = plain + traced
    checked = warm + settle + done
    attempted = len(checked)
    failed = sum(not r["ok"] for r in checked)
    for r in checked:
        if not r["ok"]:
            log(f"FAILED {r['rid']} {r['key']}: {r['error']}")
    lat = [r["latency_s"] for r in timed if not r.get("raised")]
    sc = spark.sparkContext
    env = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "nproc": nproc(),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "loadavg_1m": os.getloadavg()[0],
        "cpu_steal_ratio": steal,
        "sf": args.sf,
        "spark_version": spark.version,
        **provenance(),
    }
    per_key: dict[str, list[float]] = {}
    for r in timed:
        if not r.get("raised"):
            per_key.setdefault(r["key"], []).append(r["latency_s"])
    pooled_s, pooled_pct = pooled_tail(lat)
    peak_rss = bench.jvm_peak_rss_mb()
    detail = {
        "env": env,
        "rounds": rounds,
        "round_steal": round_steal,
        "rounds_used": sorted(used),
        "settle_requests": len(settle),
        "requests": len(plain),
        "traced_requests": len(traced),
        "setup": setup,
        "oracle_s": bench.oracle_s,
        "init_s": init_s,
        "settle_s": sum(r["latency_s"] for r in settle),
        "timed_loop_s": spent,
        "pooled_tail_s": pooled_s,
        "pooled_tail_percentile": pooled_pct,
        "jvm_peak_rss_mb": peak_rss,
        "per_key_median_s": {k: statistics.median(v) for k, v in sorted(per_key.items())},
        "latencies": [[r["round"], r["key"], r["latency_s"]] for r in done],
        "failed_requests": [
            {"rid": r["rid"], "key": r["key"], "round": r["round"], "error": r["error"]}
            for r in checked
            if not r["ok"]
        ],
    }
    if args.trace:
        settled = [r["latency_s"] for r in plain if r["round"] > 0 and not r.get("raised")]
        overhead = geomean([r["latency_s"] for r in traced]) / geomean(settled)
        metrics = layer_metrics(traced, setup, overhead, peak_rss)
        path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.jsonl")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write(json.dumps({"env": env}) + "\n")
            for r in traced:
                fh.write(json.dumps(r) + "\n")
        detail["trace_file"] = os.path.relpath(path, ROOT)
    else:
        values = {
            "setup_s": setup["start_s"] + setup["warm_s"],
            "request_p50_s": statistics.median(lat),
            "request_tail_s": slowest_fifth_mean(lat),
            "request_geomean_s": geomean(lat),
            "requests_per_s": len(lat) / sum(r["latency_s"] for r in timed),
            "oracle_ok_ratio": (attempted - failed) / attempted,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in E2E_UNITS.items()}
    final = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return {"detail": detail, "final": final}


if __name__ == "__main__":
    sys.exit(main())
