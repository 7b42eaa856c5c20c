"""One benchmark run: set-up, timed passes, output checks, report.

The client is one closed loop in this process: it submits one call at a
time and waits for it. Each layer is measured from outside, around the
call into its public entry point:

- ``session``    ``session.build_session`` and the first job;
- ``catalog``    ``catalog.load_table`` of each table the workload reads;
- ``operators``  the registered query function (construction, where
                 loop operators run their eager jobs);
- ``plans``      the noop-sink write of the frame it returned;
- ``functions``  Python/Arrow UDF nodes of those plans (SQL metrics);
- ``lineage``    caches and checkpoints still pinned after each write;
- ``laplace``    ``laplace_blocked.solve_blocked``.

Untraced runs time the calls and read ``/proc``; traced runs also tag
each call with a Spark job group and read the status stores after it,
outside the timed interval.
"""

from __future__ import annotations

import contextlib
import json
import os
import platform
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench import oracle, probes, workloads
from perfbench.tracing import Tracer

# Driver heap. The fixtures are 17 MB; with the session's 8 GiB default
# the JVM's resident size follows how far G1 happens to grow the heap
# (3.0-4.2 GB across identical runs) rather than what the run holds.
DRIVER_MEMORY = "2g"

# No timed pass starts later than this after process start. At the
# usual set-up (17-35 s) and pass times (3-6 s) every planned pass
# starts before it; on a host slowed further by its neighbours the run
# makes fewer passes and still ends in about 90 s, which keeps a full
# set of runs inside its time budget.
PASS_DEADLINE_S = 75.0


@dataclass
class Options:
    workload: workloads.Workload
    seed: int
    seconds: float
    trace: bool
    root: str
    # source fixture directory; None means the catalog's default (sf0.1)
    fixtures: str | None = None


@dataclass
class Run:
    """Everything one run measures."""

    # (operation, pass, latency s, cpu s) of every timed operation
    samples: list[tuple[str, int, float, float]] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[dict] = field(default_factory=list)
    # queries whose output check failed, with the reason
    bad: dict[str, str] = field(default_factory=dict)
    check_s: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)

    def add(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + value

    def peak(self, key: str, value: float) -> None:
        self.layer[key] = max(self.layer.get(key, 0.0), value)


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it. Below 20 samples that percentile would not lie
    above the median, so the maximum stands in for it."""
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


class Bench:
    def __init__(self, opts: Options, t_process_start: float):
        self.opts = opts
        self.wl = opts.workload
        self.t_process_start = t_process_start
        self.tracer = Tracer(opts.trace)
        self.run = Run()
        self.build_dir = os.path.join(opts.root, ".bench_build", "perfbench")
        self.record: dict = {}
        self.manifest: dict = {}
        self.fixtures: str | None = None
        self.cpus = len(os.sched_getaffinity(0))
        # a traced run measures one pass, so its layer sums are per pass
        self.passes = 1 if opts.trace else workloads.passes_for(self.wl, opts.seconds)

    # -- set-up -----------------------------------------------------------

    def _prepare_env(self) -> None:
        tmp = os.path.join(self.build_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
        # every JVM the run starts (Spark's launcher and the driver) keeps
        # its temp files here and writes no hsperfdata file elsewhere
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        self.tmp = tmp

    def setup(self) -> None:
        self._prepare_env()
        from pwir_zadanie_4_mapreduce_spark import session

        with self.tracer.span("session", "build_session"):
            t0 = time.time()
            self.spark = session.build_session(
                app_name=f"perfbench-{self.wl.name}",
                cpus=self.cpus,
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(self.build_dir, "warehouse"),
                },
            )
            t1 = time.time()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.probe = probes.SparkProbe(self.spark)
        from pyspark import SparkContext

        self.tree = probes.ProcTree(SparkContext._gateway.proc.pid)
        self.sampler = probes.RssSampler(self.tree).__enter__()
        with self.tracer.span("session", "first_job") as sp:
            self._group("setup:first_job")
            self.spark.range(1).count()
            t2 = time.time()
        if self.opts.trace:
            self._layer_stats({"setup:first_job": sp})
        self.run.add("session.build_s", t1 - t0)
        self.run.add("session.first_job_s", t2 - t1)

        # A solve has no warm-up: its first chunk pays what a fresh
        # session's solve pays.
        fixture_build_s = warmup_s = 0.0
        if not self.wl.is_laplace:
            from perfbench.fixtures import FixtureCache
            from pwir_zadanie_4_mapreduce_spark.catalog import DEFAULT_SF_DIR

            self.fixtures = self.opts.fixtures or DEFAULT_SF_DIR
            cache = FixtureCache(os.path.join(self.build_dir, "fixtures"), self.fixtures)
            t = time.monotonic()
            with contextlib.redirect_stdout(sys.stderr):
                self.manifest = cache.ensure(self.spark)
            fixture_build_s = time.monotonic() - t
            self.sf_dir = cache.multifile_dir
            self.copy_dir = cache.copy_dir
            self.fixture_dir = cache.dir
            with self.tracer.span("setup", "check_pass"):
                warmup_s = self._check_pass()
        self.setup_s = (t2 - self.t_process_start) + warmup_s
        self.record.update(fixture_build_s=fixture_build_s, warmup_s=warmup_s)

    def _check_pass(self) -> float:
        """Warm-up and output check in one untimed pass: run every query
        of the mix once, read its result back with ``toArrow()`` and
        compare it with the DuckDB oracle. Returns the time spent in
        Spark (construct and read-back), which counts as set-up; the
        comparison itself does not."""
        import __spark_entry__

        spark = self.spark
        self.queries = __spark_entry__.queries()
        self.oracle_sql = __spark_entry__.oracle_sql()
        check = oracle.Oracle(
            self.copy_dir,
            workloads.TABLES,
            self.oracle_sql,
            os.path.join(self.fixture_dir, "oracle"),
        )
        t0 = time.monotonic()
        # the timed pass writes to the noop sink; load that path here
        spark.range(1000, numPartitions=self.cpus).selectExpr("id % 7 AS k").groupBy(
            "k"
        ).count().write.format("noop").mode("overwrite").save()
        spark_s = time.monotonic() - t0
        try:
            for name in workloads.pass_order(self.wl, self.opts.seed, 0):
                t0 = time.monotonic()
                try:
                    table = self.queries[name](spark, self.sf_dir).toArrow()
                    spark_s += time.monotonic() - t0
                    why = check.mismatch(name, table)
                except Exception as exc:  # noqa: BLE001 - a failed check is a failed query
                    traceback.print_exc(file=sys.stderr)
                    why = f"check raised {exc!r}"[:500]
                self.run.check_s[name] = time.monotonic() - t0
                if why is not None:
                    self.run.bad[name] = why
                    self.run.errors.append({"query": name, "error": why})
                probes.release_storage(spark)
        finally:
            check.close()
        # start the timed pass from a collected heap, not from whatever
        # the check pass left for the collector
        spark.sparkContext._jvm.System.gc()
        return spark_s

    # -- tracing helpers ----------------------------------------------------

    def _group(self, group: str) -> None:
        if self.opts.trace:
            self.probe.set_group(group)

    def _layer_stats(self, spans: dict):
        """Status-store numbers per job group (traced runs only); each
        group's jobs become child spans of the span it maps to."""
        self.probe.clear_group()
        self.probe.drain()
        stats = self.probe.group_stats(list(spans))
        for group, gs in stats.items():
            self.tracer.add_jobs(spans[group], gs.jobs)
        return stats

    # -- workloads ------------------------------------------------------------

    def load_catalog(self) -> None:
        """Traced runs only: time a direct ``load_table`` of each table the
        workload's queries read."""
        if not self.opts.trace or self.wl.is_laplace:
            return
        from pwir_zadanie_4_mapreduce_spark.catalog import load_table

        for table in workloads.tables_read(self.wl.queries, self.oracle_sql):
            group = f"catalog:{table}"
            with self.tracer.span("catalog", table) as sp:
                self._group(group)
                load_table(self.spark, self.sf_dir, table)
            stats = self._layer_stats({group: sp})
            self.run.add("catalog.load_s", sp.duration)
            self.run.add("catalog.load_jobs", len(stats[group].jobs))

    def run_queries(self) -> None:
        run = self.run
        for p in range(self.passes):
            if p and time.time() - self.t_process_start > PASS_DEADLINE_S:
                self.record["passes_planned"] = self.passes
                self.passes = p
                break
            with self.tracer.span("client", f"pass {p}"):
                for i, name in enumerate(workloads.pass_order(self.wl, self.opts.seed, p)):
                    run.attempted += 1
                    timed = self._one_query(f"p{p}q{i}:{name}", name)
                    if timed is None or name in run.bad:
                        run.failed += 1
                    if timed is not None:
                        run.samples.append((name, p, *timed))

    def _one_query(self, tag: str, name: str) -> tuple[float, float] | None:
        """Construct and write one query (timed), then, in traced runs,
        read its layer numbers and pinned storage (untimed). Returns
        (latency, cpu) of the timed part, or None when it raised."""
        spark, run = self.spark, self.run
        g_con, g_exe = f"{tag}:construct", f"{tag}:execute"
        cpu0 = self.tree.cpu_s()
        try:
            with self.tracer.span("client", name):
                with self.tracer.span("operators", name) as c_span:
                    self._group(g_con)
                    t0 = time.monotonic()
                    df = self.queries[name](spark, self.sf_dir)
                    t1 = time.monotonic()
                with self.tracer.span("plans", name) as e_span:
                    self._group(g_exe)
                    df.write.format("noop").mode("overwrite").save()
                    t2 = time.monotonic()
        except Exception as exc:  # noqa: BLE001 - one failing query must not end the run
            traceback.print_exc(file=sys.stderr)
            run.errors.append({"query": name, "error": repr(exc)[:500]})
            if self.opts.trace:
                self.probe.clear_group()
            probes.release_storage(spark)
            return None
        cpu = self.tree.cpu_s() - cpu0

        if self.opts.trace:
            stats = self._layer_stats({g_con: c_span, g_exe: e_span})
            con, exe = stats[g_con], stats[g_exe]
            c_cover = probes.union_seconds([(a, b) for _, a, b in con.jobs], c_span.start, c_span.end)
            run.add("operators.construct_s", t1 - t0)
            run.add("operators.construct_jobs", len(con.jobs))
            run.add("operators.construct_stages", con.stages)
            run.add("operators.construct_driver_s", c_span.duration - c_cover)
            run.add("plans.execute_s", t2 - t1)
            run.add("plans.execute_jobs", len(exe.jobs))
            for key in (
                "stages",
                "tasks",
                "executor_run_ms",
                "executor_cpu_ms",
                "input_bytes",
                "shuffle_write_bytes",
                "shuffle_read_bytes",
                "spill_bytes",
                "broadcast_bytes",
            ):
                run.add(f"plans.{key}", getattr(exe, key))
            run.add("functions.python_ms", con.python_ms + exe.python_ms)
            run.add("functions.python_rows", con.python_rows + exe.python_rows)
            run.add("lineage.pinned_after", self.probe.pinned())
            run.peak("lineage.storage_bytes_peak", self.probe.storage_bytes())
        probes.release_storage(spark)
        return t2 - t0, cpu

    def run_laplace(self) -> None:
        from pwir_zadanie_4_mapreduce_spark.laplace_blocked import solve_blocked

        case, run = self.wl.laplace, self.run
        for p in range(self.passes):
            run.attempted += 1
            group = f"p{p}:solve"
            cpu0 = self.tree.cpu_s()
            try:
                with self.tracer.span("laplace", "solve_blocked") as sp:
                    self._group(group)
                    t0 = time.monotonic()
                    result = solve_blocked(
                        self.spark,
                        n=case.n,
                        num_blocks=case.num_blocks,
                        sweeps_per_job=case.sweeps_per_job,
                    )
                    t1 = time.monotonic()
            except Exception as exc:  # noqa: BLE001 - report it as a failed solve
                traceback.print_exc(file=sys.stderr)
                run.errors.append({"query": "solve_blocked", "error": repr(exc)[:500]})
                run.failed += 1
                continue
            cpu = self.tree.cpu_s() - cpu0
            solve_s = t1 - t0
            run.samples.append(("solve_blocked", p, solve_s, cpu))
            if self.opts.trace:
                gs = self._layer_stats({group: sp})[group]
                cover = probes.union_seconds([(a, b) for _, a, b in gs.jobs], sp.start, sp.end)
                run.add("laplace.iterations", result.num_iterations)
                run.add("laplace.chunks", -(-result.num_iterations // case.sweeps_per_job))
                run.add("laplace.jobs", len(gs.jobs))
                run.add("laplace.reduce_s", result.breakdown_s)
                run.add("laplace.kernel_run_ms", gs.python_ms)
                run.add("laplace.driver_gap_s", sp.duration - cover)
                run.add("laplace.shuffle_bytes", gs.shuffle_write_bytes)
                run.add(
                    "laplace.cell_updates_per_s",
                    result.num_iterations * (case.n - 2) ** 2 / solve_s,
                )
            self._group("check")
            try:
                digest = oracle.grid_md5(result.grid)
                why = oracle.laplace_mismatch(case, result, digest)
            except Exception as exc:  # noqa: BLE001 - a failed check is a failed solve
                traceback.print_exc(file=sys.stderr)
                digest, why = None, f"check raised {exc!r}"[:500]
            self.record.setdefault("grid_md5", digest)
            if why is not None:
                run.errors.append({"query": "solve_blocked", "error": why})
                run.failed += 1
            probes.release_storage(self.spark)

    # -- teardown and report ------------------------------------------------

    def teardown(self) -> list[int]:
        """Stop Spark, the JVM and its Python workers; wait for each.
        Returns the pids that would not exit."""
        from pyspark import SparkContext

        self.sampler.__exit__(None, None, None)
        pids = set(self.tree.seen)
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall through to kill
            proc.kill()
            proc.wait(timeout=30)
        survivors = probes.wait_gone(pids, 15)
        for pid in survivors:
            with contextlib.suppress(OSError):
                os.kill(pid, 9)
        return probes.wait_gone(survivors, 15)

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        """Each operation's best latency and CPU over the run's passes (as
        ``bench.py`` takes the min of 2), so a pass slowed by the host or
        by the JIT still compiling does not move the figures; every raw
        sample stays in the record. ``wall_s`` is one pass at those times."""
        best: dict[str, tuple[float, float]] = {}
        for name, _, lat, cpu in self.run.samples:
            old = best.get(name, (lat, cpu))
            best[name] = (min(old[0], lat), min(old[1], cpu))
        lat = [b[0] for b in best.values()] or [0.0]
        tail_v, tail_p = tail(lat)
        self.record.update(
            query_s_samples=len(lat),
            query_s_tail_percentile=tail_p,
            best_s={k: v[0] for k, v in best.items()},
        )
        values = {
            "setup_s": self.setup_s,
            "wall_s": sum(lat),
            "query_s.p50": statistics.median(lat),
            "query_s.tail": tail_v,
            "cpu_s": sum(b[1] for b in best.values()),
            "peak_rss_mb": self.sampler.peak / 1e6,
        }
        return {k: (values[k], unit) for k, unit in END_TO_END.items()}


END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "query_s.p50": "s",
    "query_s.tail": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}


# Every per-layer metric and its unit, in report order.
PER_LAYER = {
    "session.build_s": "s",
    "session.first_job_s": "s",
    "catalog.load_s": "s",
    "catalog.load_jobs": "count",
    "operators.construct_s": "s",
    "operators.construct_jobs": "count",
    "operators.construct_stages": "count",
    "operators.construct_driver_s": "s",
    "plans.execute_s": "s",
    "plans.execute_jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.executor_run_ms": "ms",
    "plans.executor_cpu_ms": "ms",
    "plans.input_bytes": "bytes",
    "plans.shuffle_write_bytes": "bytes",
    "plans.shuffle_read_bytes": "bytes",
    "plans.spill_bytes": "bytes",
    "plans.broadcast_bytes": "bytes",
    "functions.python_ms": "ms",
    "functions.python_rows": "count",
    "lineage.pinned_after": "count",
    "lineage.storage_bytes_peak": "bytes",
    "laplace.iterations": "count",
    "laplace.chunks": "count",
    "laplace.jobs": "count",
    "laplace.reduce_s": "s",
    "laplace.kernel_run_ms": "ms",
    "laplace.driver_gap_s": "s",
    "laplace.shuffle_bytes": "bytes",
    "laplace.cell_updates_per_s": "1/s",
}


def _median_untraced_wall(records_path: str, like: dict) -> float | None:
    """Median first-pass wall time of the correct untraced runs recorded
    in this checkout with the same workload, fixtures and solve size."""
    keys = ("workload", "fixtures", "laplace_n")
    try:
        with open(records_path) as fh:
            rows = [json.loads(line) for line in fh if line.strip()]
    except OSError:
        return None
    walls = [
        r["pass_wall_s"][0]
        for r in rows
        if not r.get("trace")
        and r.get("correct")
        and r.get("pass_wall_s")
        and all(r.get(k) == like[k] for k in keys)
    ]
    return statistics.median(walls) if walls else None


def execute(opts: Options, t_process_start: float) -> dict:
    """Run one workload; return the result object for the last line."""
    bench = Bench(opts, t_process_start)
    wl = opts.workload
    survivors: list[int] = []
    steal0 = probes.host_steal_s()
    try:
        bench.setup()
        bench.load_catalog()
        if wl.is_laplace:
            bench.run_laplace()
        else:
            bench.run_queries()
    finally:
        t = time.monotonic()
        if hasattr(bench, "spark"):
            survivors = bench.teardown()
        bench.record["teardown_s"] = time.monotonic() - t
        bench.record["host_steal_s"] = probes.host_steal_s() - steal0
    run = bench.run
    failed = run.failed
    if opts.trace:
        metrics = {k: (run.layer.get(k, 0.0), u) for k, u in PER_LAYER.items()}
    else:
        metrics = bench.end_to_end()
    import pyspark

    record = dict(
        bench.record,
        workload=wl.name,
        seed=opts.seed,
        seconds=opts.seconds,
        trace=opts.trace,
        passes=bench.passes,
        nproc=bench.cpus,
        master=f"local[{bench.cpus}]",
        driver_memory=DRIVER_MEMORY,
        spark_version=pyspark.__version__,
        python_version=platform.python_version(),
        fixtures=bench.fixtures,
        laplace_n=wl.laplace.n if wl.is_laplace else None,
        fixture_fingerprint=bench.manifest.get("fingerprint"),
        layout=bench.manifest.get("layout"),
        attempted=run.attempted,
        failed=failed,
        error_rate=failed / max(1, run.attempted),
        errors=run.errors,
        check_s=run.check_s,
        samples=run.samples,
        pass_wall_s=[
            sum(x[2] for x in run.samples if x[1] == p) for p in range(bench.passes)
        ],
        leftover_pids=survivors,
        correct=failed == 0 and not survivors,
        metrics={k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    )
    records_path = os.path.join(bench.build_dir, "records.jsonl")
    if opts.trace:
        base = _median_untraced_wall(records_path, record)
        traced_wall = record["pass_wall_s"][0] if run.samples else None
        record["trace_overhead"] = traced_wall / base if base and traced_wall else None
        record["trace_overhead_basis"] = "median untraced first-pass wall time in this checkout"
        trace_dir = os.path.join(bench.build_dir, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{wl.name}-seed{opts.seed}-{int(time.time())}.json")
        bench.tracer.dump(trace_path)
        record["trace_file"] = os.path.relpath(trace_path, opts.root)
    with open(records_path, "a") as fh:
        fh.write(json.dumps(record) + "\n")
    print(json.dumps(record), flush=True)
    return {
        "correct": record["correct"],
        "attempted": run.attempted,
        "failed": failed,
        "metrics": record["metrics"],
    }
