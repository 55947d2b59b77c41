"""The engine's batch pipeline, run over a small seeded corpus, produces
exactly the rows (every sink column) and rejects the generator says it
planted."""

import collections

import pytest

from perfbench import corpus


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench import launch

    work = str(tmp_path_factory.mktemp("work"))
    launch.prepare_env(work)
    spark = launch.start_session(work, 2)
    yield spark
    spark.stop()


def test_planted_rejects_and_rows_match_the_engine(spark, tmp_path):
    from pyspark.sql import functions as F

    from logpump_spark.streaming.job import table_routing_column
    from logpump_spark.techlog.pipeline import techlog_pipeline

    files = corpus.backfill_corpus(11, 4, 120)
    corpus.write_files(files, str(tmp_path))
    rows, rejects = techlog_pipeline(spark, str(tmp_path))
    got = collections.Counter(
        corpus.SinkRow(*r)
        for r in rows.select(
            table_routing_column(corpus.TABLE_MAP, corpus.DEFAULT_TABLE).alias("_table"),
            *corpus.SINK_COLUMNS).collect())
    want = collections.Counter(e for f in files for e in f.expected)
    assert got == want
    by_file = {r["Timestamp"]: r["n"] for r in
               rejects.groupBy("Timestamp").agg(F.count("*").alias("n")).collect()}
    assert by_file == {f.name: f.rejects for f in files if f.rejects}
    reasons = {r[0] for r in rejects.select("reject_reason").distinct().collect()}
    assert reasons == {"no_time_match", "bad_event_time", "bad_hour"}
