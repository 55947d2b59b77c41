"""``query_mix``: one analyst client running a fixed mix of registry ids.

Closed loop: the next id starts when the previous id's noop write ends.
Each id is timed from construction (table loads, detectors, fits,
checkpoints) through its noop write.  The order is a permutation drawn
from the seed.  The run is one pass in a fresh process, after a warm-up
pass over a byte-identical copy of the tables in another directory: two
engine memos are keyed on ``(applicationId, sf_dir)``, so a second pass
over the same directory in one process would skip work the first pass
did, while a copy elsewhere is new input to them.  The warm-up pass
collects every id's rows; after the timed pass, outside every timed
window, they are checked against the id's DuckDB oracle.  Same data, same
sizes, same routing-gate decisions as the timed pass, without running the
mix a third time.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from . import datagen

MIX = (
    # relational and TPC-H
    "q1_pricing_summary join_inner agg_metrics win_rank sort_limit_topk "
    "tpch_q3_shipping tpch_q8_market_share tpch_q9_product_profit "
    "tpch_q2_min_cost tpch_q18_big_orders "
    # routing gates and windows
    "sessionize_events funnel_steps_capped win_running_distinct "
    "timeseries_gaps timeseries_mad interval_max_concurrent win_moving_avg "
    # LLM-data operators
    "dedup_minhash_lsh dedup_semantic sim_srp_lsh sim_ivf_topk dedup_simhash "
    "text_tfidf text_boilerplate graph_pagerank dedup_components "
    # the rest
    "stream_session agg_approx_percentile join_skew_salted udf_grouped_map"
).split()

TIMED_SF = 0.003
WARM_THREADS = 4


def order(seed: int) -> list[str]:
    ids = list(MIX)
    random.Random(seed).shuffle(ids)
    return ids


def make_inputs(work: str, seed: int) -> tuple[str, str]:
    """-> (warm-up dir, timed dir): the same seeded tables in two places."""
    warm = os.path.join(work, "warm_tables")
    timed = os.path.join(work, "tables")
    datagen.generate(timed, TIMED_SF, seed)
    shutil.copytree(timed, warm)
    return warm, timed


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_pass(spark, queries, ids, sf_dir, on_id=None):
    """Run ``ids`` once over ``sf_dir``.  Returns ``{id: (wall_s, df)}`` for
    the ids that ran and ``{id: error}`` for those that raised.
    ``on_id(name, phase)`` is called around construction and the write
    (``phase`` in ``construct``/``write``/``done``) for tracing."""
    done, errors = {}, {}
    for name in ids:
        try:
            if on_id:
                on_id(name, "construct")
            t0 = time.perf_counter()
            df = queries[name](spark, sf_dir)
            if on_id:
                on_id(name, "write")
            _noop(df)
            wall = time.perf_counter() - t0
            done[name] = (wall, df)
        except Exception as e:  # noqa: BLE001 - a failed id is a failed operation
            errors[name] = f"{type(e).__name__}: {str(e)[:200]}"
        finally:
            if on_id:
                on_id(name, "done")
    return done, errors


def warm_up(spark, queries, ids, sf_dir) -> dict[str, tuple]:
    """The warm-up pass: each id once over ``sf_dir``, ``WARM_THREADS`` ids
    at a time, its rows collected, so JIT and code generation are warm for
    the timed pass.  Returns ``{id: (columns, rows, error)}``."""

    def collect(name):
        try:
            df = queries[name](spark, sf_dir)
            return name, (list(df.columns), df.collect(), None)
        except Exception as e:  # noqa: BLE001 - an id that raises fails
            return name, (None, None, f"{type(e).__name__}: {str(e)[:200]}")

    with ThreadPoolExecutor(WARM_THREADS) as pool:
        return dict(pool.map(collect, ids))


def check(collected, sf_dir) -> dict[str, str]:
    """Compare each id's collected rows with its DuckDB oracle over
    ``sf_dir``: row count, column names and order-insensitive canonical
    values.  Returns ``{id: problem}`` for every id that raised or
    differs."""
    from logpump_spark.queries import all_oracles
    from tools.parity import canon_rows_native, duckdb_connect

    oracles = all_oracles()
    con = duckdb_connect(sf_dir)

    def compare(item):
        name, (cols, rows, err) = item
        if err:
            return name, err
        try:
            cur = con.cursor().execute(oracles[name])  # a cursor per thread
            o_cols = [d[0] for d in cur.description]
            o_rows = cur.fetchall()
            if sorted(cols) != sorted(o_cols):
                return name, f"columns {sorted(cols)} != {sorted(o_cols)}"
            if len(rows) != len(o_rows):
                return name, f"rows {len(rows)} != oracle {len(o_rows)}"
            if canon_rows_native(cols, rows) != canon_rows_native(o_cols, o_rows):
                return name, "values differ from oracle"
        except Exception as e:  # noqa: BLE001 - a check that cannot run fails
            return name, f"{type(e).__name__}: {str(e)[:200]}"
        return name, None

    with ThreadPoolExecutor(WARM_THREADS) as pool:
        bad = {name: p for name, p in pool.map(compare, collected.items()) if p}
    con.close()
    return bad
