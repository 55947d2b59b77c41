"""Benchmark entry point.

    python3 perfbench/run.py --workload {pump,query_mix} --seed N \
        --seconds S --trace {0,1}

Prints one JSON object as its last stdout line: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``).  The line before
it names the workload's metrics as the benchmark doc does.  See
``perfbench/README.md`` for what each workload and metric means.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import corpus, launch, pump, querymix  # noqa: E402
from perfbench.stats import backlog_max, file_latencies, percentile, phase_p50_ms  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Tracer,
    max_execution_id,
    max_stage_id,
    recent_executions,
    spark_window,
    stages_of_jobs,
)

END_TO_END_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "batch_wall_s": "s",
}

PER_LAYER_UNITS = {
    "techlog.read_s": "s",
    "techlog.assemble_s": "s",
    "techlog.parse_s": "s",
    "techlog.transform_s": "s",
    "techlog.records": "count",
    "techlog.rejects": "count",
    "streaming.batches": "count",
    **{f"streaming.{ph}_ms_p50": "ms" for ph in (
        "triggerExecution", "addBatch", "queryPlanning", "walCommit",
        "latestOffset", "getBatch", "commitOffsets")},
    "streaming.route_and_write_s": "s",
    "streaming.write_rejects_s": "s",
    "streaming.sink_other_s": "s",
    "streaming.files_per_epoch": "files",
    "streaming.backlog_files_max": "files",
    "generator.lag_s": "s",
    "queries.construct_s": "s",
    "queries.plan_s": "s",
    "queries.execute_s": "s",
    "queries.construct_jobs": "count",
    "queries.execute_jobs": "count",
    "tables.load_calls": "count",
    "tables.load_s": "s",
    "tables.load_jobs": "count",
    "operators.materialize_calls": "count",
    "operators.materialize_s": "s",
    "operators.over_threshold_keys_s": "s",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_time_s": "s",
    "spark.core_utilisation": "ratio",
    "spark.task_skew": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.python_udf_bytes_in": "bytes",
    "spark.python_udf_bytes_out": "bytes",
    "spark.gc_s": "s",
    "spark.speedup_vs_1core": "ratio",
    "trace.overhead_s": "s",
}


class Run:
    """One benchmark process: its work directory, session and results."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool) -> None:
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = os.path.join(ROOT, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
        self.cpus = launch.host_cpus()
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = dict.fromkeys(PER_LAYER_UNITS, 0.0)
        self.named: dict[str, float] = {}
        self.tracer = Tracer(f"{workload}-{seed}") if trace else None
        self.spark = None
        self.inputs_s = 0.0  # generating inputs: not part of setup_s

    def fail(self, n: int, what: str) -> None:
        if n:
            self.failed += n
            self.problems.append(what)

    def make_inputs(self, build):
        """Run ``build()`` in a fresh work directory before the session
        starts; its time is left out of ``setup_s``."""
        shutil.rmtree(self.work, ignore_errors=True)
        launch.prepare_env(self.work)
        t0 = time.perf_counter()
        out = build()
        self.inputs_s = time.perf_counter() - t0
        return out

    def start(self):
        self.spark = launch.start_session(self.work, self.cpus, trace=self.trace)
        return self.spark

    def set_up(self) -> None:
        """End of set-up: process start to now, less the input generation."""
        self.e2e["setup_s"] = time.perf_counter() - T_PROCESS - self.inputs_s

    def close(self) -> None:
        if self.tracer is not None:
            self.tracer.restore()
            out = os.path.join(ROOT, ".bench_out")
            os.makedirs(out, exist_ok=True)
            self.tracer.dump(os.path.join(out, f"spans-{self.workload}-{self.seed}.jsonl"))
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            # the JVM exits when its stdin closes; wait for it (and with
            # it the Python workers it started) before removing its files
            proc = getattr(SparkContext._gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        shutil.rmtree(self.work, ignore_errors=True)

    def result(self) -> dict:
        if self.trace:
            metrics = {k: {"value": float(self.layer[k]), "unit": u} for k, u in PER_LAYER_UNITS.items()}
        else:
            metrics = {k: {"value": float(self.e2e[k]), "unit": u} for k, u in END_TO_END_UNITS.items()}
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }


# -- pump ---------------------------------------------------------------


def _trace_sink(run: Run) -> None:
    from logpump_spark.streaming import job

    run.tracer.wrap(job, "route_and_write", "streaming.route_and_write",
                    lambda a, k: {"epoch": k.get("epoch_id")})
    run.tracer.wrap(job, "write_rejects", "streaming.write_rejects",
                    lambda a, k: {"epoch": a[2] if len(a) > 2 else k.get("epoch_id")})


def _techlog_layers(run: Run, in_dir: str) -> None:
    """Prefix-difference of noop writes: read, +assemble, +parse,
    +transform over the backfill corpus, each timed end to end."""
    from logpump_spark.techlog.parser import parse_records
    from logpump_spark.techlog.reader import read_techlog, records_from_text
    from logpump_spark.techlog.transform import to_techlog_rows

    spark = run.spark
    stages = [
        lambda: read_techlog(spark, in_dir),
        lambda: records_from_text(read_techlog(spark, in_dir)),
        lambda: parse_records(records_from_text(read_techlog(spark, in_dir)), split_stages=False),
        lambda: to_techlog_rows(parse_records(
            records_from_text(read_techlog(spark, in_dir)), split_stages=False))[0],
    ]
    walls = []
    for build in stages:
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    for name, a, b in zip(("read", "assemble", "parse", "transform"), [0.0] + walls, walls):
        run.layer[f"techlog.{name}_s"] = b - a


def _pump_inputs(run: Run):
    backlog = corpus.backfill_corpus(run.seed, pump.BACKFILL_FILES, pump.BACKFILL_RECORDS)
    corpus.write_files(backlog, os.path.join(run.work, "backlog"))
    warm = corpus.backfill_corpus(run.seed + 1_000_003, pump.WARM_FILES, pump.WARM_RECORDS,
                                  first_index=5000)
    corpus.write_files(warm, os.path.join(run.work, "warm", "in"))
    stream = corpus.stream_files(run.seed, pump.STREAM_WARM_FILES + run.seconds,
                                 pump.STREAM_RECORDS, first_index=2000)
    return backlog, stream


def run_pump(run: Run) -> None:
    backlog, files = run.make_inputs(lambda: _pump_inputs(run))
    spark = run.start()
    n_records = sum(f.records for f in backlog)
    in_dir = os.path.join(run.work, "backlog")

    def drain_and_check(i: int) -> float:
        drain_dir = os.path.join(run.work, f"backfill{i}")
        wall = pump.drain(spark, in_dir, drain_dir)
        rows, _, rejects = pump.read_sink(os.path.join(drain_dir, "sink"))
        bad = pump.check_files(backlog, rows, rejects)
        run.attempted += len(backlog)
        run.fail(len(bad), f"backfill drain {i}: files wrong in sink: {bad[:5]}")
        return wall

    # warm-up: a small drain compiles the parse plane and the sink
    pump.drain(spark, os.path.join(run.work, "warm", "in"), os.path.join(run.work, "warm"))
    run.set_up()

    if run.trace:
        first_stage = max_stage_id(spark)
        first_exec = max_execution_id(spark)
    t_window = time.perf_counter()
    walls = [drain_and_check(i) for i in range(pump.BACKFILL_DRAINS)]
    wall = percentile(walls, 50)
    run.e2e["batch_wall_s"] = wall
    run.named["backfill_records_per_s"] = n_records / wall

    if run.trace:
        _trace_sink(run)
        # the same drain again, traced, for the tracing overhead
        with run.tracer.span("pump.backfill_traced"):
            traced_wall = pump.drain(spark, in_dir, os.path.join(run.work, "backfill_traced"))
        run.layer["trace.overhead_s"] = traced_wall - wall

    sdir = os.path.join(run.work, "stream")
    out = pump.stream(spark, files, sdir)
    rows, epochs, rejects = pump.read_sink(os.path.join(sdir, "sink"))
    bad = pump.check_files(files, rows, rejects)
    run.attempted += len(files)
    run.fail(len(bad), f"stream files wrong in sink: {bad[:5]}")
    commits = pump.commit_times(os.path.join(sdir, "ck"))
    measured = {f.stem: out["due"][f.stem] for f in files[pump.STREAM_WARM_FILES:]
                if f.stem in out["due"]}
    lat = file_latencies(measured, epochs, commits)
    run.fail(run.seconds - len(lat), "stream files without a commit")
    run.e2e["latency_p50_s"] = percentile(lat.values(), 50)
    run.named["pump_latency_p50_s"] = run.e2e["latency_p50_s"]
    # printed, not a gated metric: the 90th percentile of ~15 files is
    # set by the slowest of ~7 micro-batches and spreads beyond any bound
    run.named["pump_latency_p90_s"] = percentile(lat.values(), 90)

    if not run.trace:
        return
    wall_window = time.perf_counter() - t_window
    run.layer.update(spark_window(spark, lambda s: s > first_stage,
                                  lambda e, _j: e > first_exec, wall_window, run.cpus))
    # stream layer: the micro-batches that carried measured files
    measured_epochs = {e for s in measured for e in epochs.get(s, ())}
    prog = [p for p in out["progress"] if int(p["batchId"]) in measured_epochs]
    run.layer["streaming.batches"] = len(prog)
    for ph, v in phase_p50_ms(prog).items():
        run.layer[f"streaming.{ph}_ms_p50"] = v
    def per_epoch(span: str) -> dict[int, float]:
        return {sp.attrs["epoch"]: sp.end - sp.start for sp in run.tracer.spans
                if sp.name == span and sp.attrs.get("epoch") in measured_epochs}

    rw, wr = per_epoch("streaming.route_and_write"), per_epoch("streaming.write_rejects")
    if rw:
        run.layer["streaming.route_and_write_s"] = percentile(rw.values(), 50)
    if wr:
        run.layer["streaming.write_rejects_s"] = percentile(wr.values(), 50)
    other = [p["durationMs"]["addBatch"] / 1000.0 - rw.get(int(p["batchId"]), 0.0)
             - wr.get(int(p["batchId"]), 0.0) for p in prog]
    if other:
        run.layer["streaming.sink_other_s"] = percentile(other, 50)
    if prog:
        run.layer["streaming.files_per_epoch"] = percentile([int(p["numInputRows"]) for p in prog], 50)
    committed_at = {s: commits[next(iter(epochs[s]))] for s in lat}
    run.layer["streaming.backlog_files_max"] = backlog_max(measured, committed_at)
    run.layer["generator.lag_s"] = max(out["lag"].values())

    _techlog_layers(run, in_dir)
    run.layer["techlog.records"] = n_records
    run.layer["techlog.rejects"] = sum(f.rejects for f in backlog)

    # the same drain on one core, for the parallel speed-up
    run.tracer.restore()
    spark.stop()
    run.spark = spark = launch.start_session(run.work, 1, trace=True)
    one_core = pump.drain(spark, in_dir, os.path.join(run.work, "backfill_1core"))
    run.layer["spark.speedup_vs_1core"] = one_core / wall


# -- query_mix ------------------------------------------------------------


class _IdTracer:
    """Traced query_mix pass: one job group per id and phase, a
    ``tables.load`` job group per load (its schema-inference jobs), and
    the construct / plan / execute split of each id's wall."""

    def __init__(self, run: Run) -> None:
        self.run, self.spark = run, run.spark
        self.sc = run.spark.sparkContext
        self.totals = dict.fromkeys(
            ("construct_s", "plan_s", "execute_s", "construct_jobs", "execute_jobs"), 0.0)
        self.load_jobs = 0
        self.groups: list[str] = []
        self.t: dict = {}

    def install(self) -> None:
        import logpump_spark.operators.materialize as materialize
        import logpump_spark.operators.skewguard as skewguard
        import logpump_spark.tables as tables

        tr = self.run.tracer
        tr.wrap(tables, "load", "tables.load", self._load_begin, self._load_end)
        tr.wrap(materialize, "materialize", "operators.materialize")
        tr.wrap(skewguard, "over_threshold_keys", "operators.over_threshold_keys")

    def _group(self, group: str) -> None:
        self.groups.append(group)
        self.sc.setJobGroup(group, group)

    def _load_begin(self, args, kwargs) -> dict:
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self._group(f"load:{len(self.groups)}")
        return {"table": args[2] if len(args) > 2 else kwargs.get("name"), "prev": prev}

    def _load_end(self, attrs) -> None:
        if attrs["prev"]:
            self.sc.setJobGroup(attrs["prev"], attrs["prev"])

    def __call__(self, name: str, phase: str) -> None:
        if phase == "construct":
            self.span = self.run.tracer.begin("queries.id", id=name)
            self.t = {"start": time.perf_counter()}
            self._group(f"construct:{name}")
        elif phase == "write":
            self.t["write"], self.t["write_epoch"] = time.perf_counter(), time.time()
            self._group(f"execute:{name}")
        else:
            end, end_epoch = time.perf_counter(), time.time()
            self.sc.setJobGroup("idle", "idle")
            self.run.tracer.end(self.span)
            if "write" not in self.t:
                return
            self.totals["construct_s"] += self.t["write"] - self.t["start"]
            # the write's SQL execution is submitted once its plan is
            # built: submission splits planning from execution
            after = [t for _, t in recent_executions(self.spark, 20)
                     if t >= self.t["write_epoch"] - 0.001]
            plan = min(after) - self.t["write_epoch"] if after else 0.0
            plan = min(max(plan, 0.0), end - self.t["write"])
            self.totals["plan_s"] += plan
            self.totals["execute_s"] += end - self.t["write"] - plan

    def count_jobs(self) -> set[int]:
        """Tally jobs per group; return every job id the traced pass ran."""
        tracker = self.sc.statusTracker()
        jobs = set()
        for g in self.groups:
            ids = tracker.getJobIdsForGroup(g)
            jobs.update(ids)
            if g.startswith("load:"):
                self.load_jobs += len(ids)
                self.totals["construct_jobs"] += len(ids)
            elif g.startswith("construct:"):
                self.totals["construct_jobs"] += len(ids)
            else:
                self.totals["execute_jobs"] += len(ids)
        return jobs


def run_query_mix(run: Run) -> None:
    warm_dir, timed_dir = run.make_inputs(lambda: querymix.make_inputs(run.work, run.seed))
    spark = run.start()
    from logpump_spark.queries import all_queries

    queries = all_queries()
    ids = querymix.order(run.seed)
    collected = querymix.warm_up(spark, queries, ids, warm_dir)
    run.set_up()

    if not run.trace:
        done, errors = querymix.run_pass(spark, queries, ids, timed_dir)
    else:
        # the traced pass reads a copy of the tables (so the engine's
        # per-directory memos treat it as new input) and is interleaved
        # id by id with the untraced pass, alternating which goes first,
        # so neither side runs warmer on average
        traced_dir = os.path.join(run.work, "tables_traced")
        shutil.copytree(timed_dir, traced_dir)
        idt = _IdTracer(run)
        done, errors, traced_walls = {}, {}, []
        for i, name in enumerate(ids):
            for traced in ((False, True) if i % 2 == 0 else (True, False)):
                if traced:
                    idt.install()
                    d, _ = querymix.run_pass(spark, queries, [name], traced_dir, on_id=idt)
                    run.tracer.restore()
                    traced_walls += [w for w, _ in d.values()]
                else:
                    d, e = querymix.run_pass(spark, queries, [name], timed_dir)
                    done.update(d)
                    errors.update(e)
        traced_wall = sum(traced_walls)
        run.layer["trace.overhead_s"] = traced_wall - sum(w for w, _ in done.values())
        jobs = idt.count_jobs()
        for k, v in idt.totals.items():
            run.layer[f"queries.{k}"] = v
        run.layer["tables.load_jobs"] = idt.load_jobs
        for key in ("tables.load", "operators.materialize"):
            run.layer[f"{key}_calls"] = len(run.tracer.durations(key))
            run.layer[f"{key}_s"] = sum(run.tracer.durations(key))
        run.layer["operators.over_threshold_keys_s"] = sum(
            run.tracer.durations("operators.over_threshold_keys"))
        # Spark metrics of the traced copy only: the stages of its jobs,
        # which ran inside its per-id walls
        stage_ids = stages_of_jobs(spark, jobs)
        run.layer.update(spark_window(spark, stage_ids.__contains__,
                                      lambda _e, js: bool(js & jobs), traced_wall, run.cpus))

    # outside the timed windows: the warm-up pass's rows, over the same
    # tables, against the oracles
    wrong = querymix.check(collected, timed_dir)
    run.attempted += len(ids)
    failed = set(errors) | set(wrong)
    run.fail(len(failed), f"ids raised in the timed pass: {errors}; "
                          f"ids that raised or differ from the oracle in the warm-up pass: {wrong}")
    walls = [w for w, _ in done.values()]
    if walls:
        run.e2e.update({"batch_wall_s": sum(walls), "latency_p50_s": percentile(walls, 50)})
        run.named.update({"query_mix_wall_s": run.e2e["batch_wall_s"],
                          "query_p50_s": run.e2e["latency_p50_s"],
                          "query_p90_s": percentile(walls, 90)})


WORKLOADS = {"pump": run_pump, "query_mix": run_query_mix}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        WORKLOADS[args.workload](run)
    finally:
        run.close()
    named = dict(run.named, failed_ratio=run.failed / max(1, run.attempted))
    print(json.dumps({"workload": args.workload, "seed": args.seed, "named": named,
                      "problems": run.problems}))
    print(json.dumps(run.result()))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
