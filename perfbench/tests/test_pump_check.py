import os

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import corpus, pump


def _write_sink(sink, files, epoch_of, drop=0, dup=0):
    """A sink laid out as route_and_write / write_rejects lay it out."""
    for f in files:
        for i, row in enumerate(f.expected[drop:]):
            d = os.path.join(sink, f"_table={row.table}", f"EventDate={row.EventTime.date()}",
                             f"_epoch={epoch_of[f.stem]}")
            os.makedirs(d, exist_ok=True)
            rows = [row] * (2 if i < dup else 1)
            cols = {c: [getattr(r, c) for r in rows] for c in corpus.SINK_COLUMNS}
            cols["ExceptionType"] = pa.array(cols["ExceptionType"], pa.string())
            cols["ErrorText"] = pa.array(cols["ErrorText"], pa.string())
            pq.write_table(pa.table(cols), os.path.join(d, f"{f.stem}-{i}.parquet"))
        if f.rejects:
            d = os.path.join(sink, "_rejects", f"_epoch={epoch_of[f.stem]}")
            os.makedirs(d, exist_ok=True)
            pq.write_table(pa.table({"Timestamp": [f.name] * f.rejects}),
                           os.path.join(d, f"{f.stem}.parquet"))


def test_read_sink_joins_rows_to_files_and_epochs(tmp_path):
    files = corpus.stream_files(4, 3, 30, first_index=10)
    epoch_of = {files[0].stem: 0, files[1].stem: 1, files[2].stem: 1}
    _write_sink(str(tmp_path), files, epoch_of)
    rows, epochs, rejects = pump.read_sink(str(tmp_path))
    assert pump.check_files(files, rows, rejects) == []
    assert {s: e for s, e in epochs.items()} == {s: {e} for s, e in epoch_of.items()}
    assert rejects[files[0].stem] == files[0].rejects >= 1  # headless prefix


def test_check_catches_missing_duplicate_and_wrong_rejects(tmp_path):
    files = corpus.stream_files(4, 2, 30, first_index=10)
    epoch_of = {f.stem: 0 for f in files}
    for sub, kw in (("missing", {"drop": 1}), ("dup", {"dup": 1})):
        _write_sink(str(tmp_path / sub), files, epoch_of, **kw)
        rows, _, rejects = pump.read_sink(str(tmp_path / sub))
        assert pump.check_files(files, rows, rejects) == [f.stem for f in files]
    _write_sink(str(tmp_path / "ok"), files, epoch_of)
    rows, _, rejects = pump.read_sink(str(tmp_path / "ok"))
    rejects[files[1].stem] += 1
    assert pump.check_files(files, rows, rejects) == [files[1].stem]


def test_check_catches_misrouted_rows():
    files = corpus.stream_files(9, 1, 40, first_index=0)
    f = files[0]
    rows = {f.stem: [r._replace(table="tech_log") for r in f.expected]}
    assert pump.check_files(files, rows, {f.stem: f.rejects}) == [f.stem]


def test_check_catches_a_wrong_parsed_field(tmp_path):
    files = corpus.backfill_corpus(6, 2, 60)
    f = files[0]
    epoch_of = {x.stem: 0 for x in files}
    _write_sink(str(tmp_path), files, epoch_of)
    rows, _, rejects = pump.read_sink(str(tmp_path))
    assert pump.check_files(files, rows, rejects) == []
    multi = next(i for i, r in enumerate(rows[f.stem]) if "\n" in r.SQLText)
    for field, wrong in (("SQLText", rows[f.stem][multi].SQLText.split("\n")[0]),
                         ("Context", "x"), ("User", "nobody"), ("Rows", -1)):
        bad = dict(rows)
        bad[f.stem] = list(rows[f.stem])
        bad[f.stem][multi] = bad[f.stem][multi]._replace(**{field: wrong})
        assert pump.check_files(files, bad, rejects) == [f.stem], field


def test_commit_times_reads_commit_file_mtimes(tmp_path):
    commits = tmp_path / "commits"
    commits.mkdir()
    for epoch, t in ((0, 1000.25), (1, 1002.5)):
        p = commits / str(epoch)
        p.write_text("v1\n")
        os.utime(p, ns=(int(t * 1e9), int(t * 1e9)))
    (commits / ".0.crc").write_text("")
    assert pump.commit_times(str(tmp_path)) == {0: 1000.25, 1: 1002.5}
