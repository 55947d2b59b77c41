"""The query-mix check against DuckDB oracles, without Spark: rows taken
from the oracle itself pass, a missing row or a raised error fails."""

from perfbench import datagen, querymix

IDS = ["join_inner", "win_rank", "agg_metrics"]


def test_check_passes_oracle_rows_and_flags_wrong_ones(tmp_path):
    from logpump_spark.queries import all_oracles
    from tools.parity import duckdb_connect

    d = str(tmp_path / "tables")
    datagen.generate(d, 0.001, 3)
    con = duckdb_connect(d)
    collected = {}
    for name in IDS:
        cur = con.execute(all_oracles()[name])
        collected[name] = ([c[0] for c in cur.description], cur.fetchall(), None)
    con.close()
    assert querymix.check(collected, d) == {}

    cols, rows, _ = collected["join_inner"]
    collected["join_inner"] = (cols, rows[:-1], None)
    collected["win_rank"] = (None, None, "RuntimeError: boom")
    bad = querymix.check(collected, d)
    assert set(bad) == {"join_inner", "win_rank"}
    assert bad["win_rank"] == "RuntimeError: boom"
