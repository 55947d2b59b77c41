"""``pump``: the service's two paths over one seeded corpus family.

- backfill (closed loop): ``build_techlog_stream(available_now=True)``,
  which is the CLI's ``--drain``, over a pre-written backlog of hourly
  files, timed from ``start()`` to termination.  The parse plane
  dominates and the per-batch cost is amortised over one large write.
  After a small warm-up drain, the backlog is drained ``BACKFILL_DRAINS``
  times, each into a fresh sink and checkpoint, and the median wall
  counts.  The backlog has twice as many files as a 4-core host has
  cores, so the parse tasks run in two even waves.
- live stream (open loop): the same job with ``trigger_seconds=1``
  while a generator thread lands one complete rotated file every
  second, written outside the watched directory and renamed in on
  schedule whether or not the pump keeps up.  A file's latency runs from
  the time it was due at the generator to the commit of the micro-batch
  that wrote it.  The first ``STREAM_WARM_FILES`` files are excluded.

Both runs use the same routing map, so rows spread over three routed
tables plus the default.  Latency is read from the sink itself: a row's
``(EventDate, hour)`` names its file (every file has a distinct
``YYMMDDHH`` stem), its ``_epoch`` partition names its micro-batch, and
``<checkpoint>/commits/<epoch>`` is written when that batch commits.
"""

from __future__ import annotations

import glob
import os
import threading
import time
from collections import defaultdict

from . import corpus
from .corpus import CorpusFile, SinkRow

BACKFILL_FILES = 8
BACKFILL_RECORDS = 400
BACKFILL_DRAINS = 3  # timed drains of the backlog; their median counts
WARM_FILES = 3
WARM_RECORDS = 300
STREAM_RECORDS = 300  # per file; one file per second = 300 records/s
STREAM_INTERVAL_S = 1.0
STREAM_WARM_FILES = 2
DRAIN_TIMEOUT_S = 60.0


def drain(spark, in_dir: str, run_dir: str) -> float:
    """Drain every file in ``in_dir`` once, into a fresh sink and
    checkpoint under ``run_dir``; return the wall from ``start()`` to
    termination."""
    from logpump_spark.streaming import job

    writer = job.build_techlog_stream(
        spark,
        in_dir,
        sink_dir=os.path.join(run_dir, "sink"),
        checkpoint_dir=os.path.join(run_dir, "ck"),
        table_map=corpus.TABLE_MAP,
        default_table=corpus.DEFAULT_TABLE,
        available_now=True,
    )
    t0 = time.perf_counter()
    q = writer.start()
    q.awaitTermination()
    return time.perf_counter() - t0


class Generator(threading.Thread):
    """Open-loop file generator: file ``i`` is due at ``t0 + i *
    interval`` (wall clock); it is written to ``stage_dir`` and renamed
    into ``in_dir`` at that time, however far behind the pump is."""

    def __init__(self, files: list[CorpusFile], stage_dir: str, in_dir: str,
                 t0: float, interval: float) -> None:
        super().__init__(daemon=True)
        self.files, self.stage_dir, self.in_dir = files, stage_dir, in_dir
        self.t0, self.interval = t0, interval
        self.due: dict[str, float] = {}
        self.lag: dict[str, float] = {}
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for i, f in enumerate(self.files):
                due = self.t0 + i * self.interval
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                staged = os.path.join(self.stage_dir, f.name)
                with open(staged, "w", encoding="utf-8") as fh:
                    fh.write(f.text)
                os.rename(staged, os.path.join(self.in_dir, f.name))
                self.due[f.stem] = due
                self.lag[f.stem] = time.time() - due
        except BaseException as e:  # noqa: BLE001 - re-raised by the caller
            self.error = e


def stream(spark, files: list[CorpusFile], run_dir: str) -> dict:
    """Run the live stream over ``files`` (one per interval) and return
    the generator's due/lag times and the query's progress records."""
    from logpump_spark.streaming import job

    stage, inbox = os.path.join(run_dir, "stage"), os.path.join(run_dir, "in")
    os.makedirs(stage, exist_ok=True)
    os.makedirs(inbox, exist_ok=True)
    writer = job.build_techlog_stream(
        spark,
        inbox,
        sink_dir=os.path.join(run_dir, "sink"),
        checkpoint_dir=os.path.join(run_dir, "ck"),
        table_map=corpus.TABLE_MAP,
        default_table=corpus.DEFAULT_TABLE,
        trigger_seconds=1,
    )
    q = writer.start()
    gen = Generator(files, stage, inbox, time.time() + 0.5, STREAM_INTERVAL_S)
    gen.start()
    try:
        gen.join()
        if gen.error is not None:
            raise gen.error
        deadline = time.time() + DRAIN_TIMEOUT_S
        while time.time() < deadline and q.isActive:
            if sum(int(p["numInputRows"]) for p in q.recentProgress) >= len(files):
                break
            time.sleep(0.1)
        progress = [p for p in q.recentProgress]
    finally:
        q.stop()
    return {"due": gen.due, "lag": gen.lag, "progress": progress}


def commit_times(checkpoint_dir: str) -> dict[int, float]:
    """Epoch -> commit time (mtime of ``commits/<epoch>``, epoch seconds)."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint_dir, "commits", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            out[int(name)] = os.stat(path).st_mtime_ns / 1e9
    return out


def read_sink(sink_dir: str):
    """-> ({stem: [SinkRow]}, {stem: {epochs}}, {filename stem: reject
    count}) read back with DuckDB; every sink column is read."""
    import duckdb

    con = duckdb.connect()
    rows: dict[str, list] = defaultdict(list)
    epochs: dict[str, set[int]] = defaultdict(set)
    if glob.glob(os.path.join(sink_dir, "_table=*", "*", "*", "*.parquet")):
        cols = ", ".join(corpus.SINK_COLUMNS)
        for table, date, epoch, *values in con.execute(
            f"SELECT _table, EventDate, _epoch, {cols} FROM read_parquet("
            f"'{sink_dir}/_table=*/*/*/*.parquet', hive_partitioning = true)"
        ).fetchall():
            row = SinkRow(table, *values)
            stem = date.strftime("%y%m%d") + f"{row.EventTime.hour:02d}"
            rows[stem].append(row)
            epochs[stem].add(int(epoch))
    rejects: dict[str, int] = defaultdict(int)
    if glob.glob(os.path.join(sink_dir, "_rejects", "*", "*.parquet")):
        for fname, n in con.execute(
            "SELECT Timestamp, count(*) FROM read_parquet("
            f"'{sink_dir}/_rejects/*/*.parquet', hive_partitioning = true) GROUP BY 1"
        ).fetchall():
            rejects[fname[:-4] if fname.endswith(".log") else fname] += int(n)
    con.close()
    return rows, epochs, rejects


def check_files(files: list[CorpusFile], rows, rejects) -> list[str]:
    """Every well-formed record of every file exactly once, in its routed
    table and with every column as generated, and each file's planted
    rejects in ``_rejects``.  Returns the stems of files that fail."""
    bad = []
    known = {f.stem for f in files}
    for f in files:
        got = sorted(rows.get(f.stem, []), key=corpus.row_order)
        if got != f.expected or rejects.get(f.stem, 0) != f.rejects:
            bad.append(f.stem)
    # rows or rejects attributed to no generated file are wrong too
    bad += sorted((set(rows) | set(rejects)) - known)
    return bad
