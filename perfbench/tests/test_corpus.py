import datetime as dt
import re

from perfbench import corpus

RECORD_START = re.compile(r"^[^\n]*\d{2}:\d{2}\.\d{2,}[^\n]*-", re.M)


def test_same_seed_same_corpus_other_seed_differs():
    a = corpus.backfill_corpus(7, 4, 50)
    b = corpus.backfill_corpus(7, 4, 50)
    c = corpus.backfill_corpus(8, 4, 50)
    assert [(f.name, f.text, f.expected, f.rejects) for f in a] == [
        (f.name, f.text, f.expected, f.rejects) for f in b]
    assert [f.text for f in a] != [f.text for f in c]
    s1 = corpus.stream_files(7, 3, 20, first_index=100)
    assert [f.text for f in s1] == [f.text for f in corpus.stream_files(7, 3, 20, first_index=100)]


def test_planted_reject_counts():
    files = corpus.backfill_corpus(3, 6, 200)
    for i, f in enumerate(files):
        headless = 1 if i % 3 == 0 else 0
        if i == len(files) - 1:  # bad-hour file: everything rejects
            assert not f.stem[6:8].isdigit()
            assert f.expected == []
            assert f.rejects == 200 + headless
        else:
            assert f.rejects == headless + 200 // 97
            assert len(f.expected) == 200 - 200 // 97
        # one record-start line per record; the headless prefix has none
        assert len(RECORD_START.findall(f.text)) == 200


def test_stems_distinct_and_name_their_rows():
    files = corpus.backfill_corpus(1, 30, 20) + corpus.stream_files(1, 30, 20, first_index=30)
    stems = [f.stem for f in files]
    assert len(set(stems)) == len(stems)
    for f in files:
        if not f.expected:
            continue
        date, hour = corpus.stem_hour(f.stem)
        times = [r.EventTime for r in f.expected]
        assert len(set(times)) == len(times)  # EventTime names the record
        assert all(t.date() == date and t.hour == hour for t in times)


def test_routes_to_three_tables_and_the_default_with_multiline_records():
    files = corpus.backfill_corpus(5, 3, 400)
    tables = {r.table for f in files for r in f.expected}
    assert set(corpus.TABLE_MAP.values()) | {corpus.DEFAULT_TABLE} <= tables
    text = files[1].text
    lines, records = text.count("\n"), len(RECORD_START.findall(text))
    assert lines > 2 * records  # multi-line SQL / Context
    lengths = [len(r) for r in RECORD_START.split(text) if r]
    assert max(lengths) > 4 * min(lengths)
    rows = [r for f in files for r in f.expected]
    assert any("\n" in r.SQLText for r in rows)
    assert any("\n" in r.Context for r in rows)


def test_expected_rows_carry_the_parsed_fields():
    (f,) = corpus.stream_files(3, 1, 200, first_index=0)
    for r in f.expected:
        assert r.EventType in dict(corpus._COMPONENT_WEIGHTS)
        assert r.User.startswith("user") and r.InfoBase.startswith("erp")
        assert r.ProcessName.startswith("srv")
        assert r.ExceptionType is None and r.ErrorText is None
        if r.EventType in ("DBMSSQL", "SDBL"):
            # the timestamp inside the SQL is scrubbed, the rest is kept
            assert r.SQLText.startswith("SELECT ") and r.SQLText.endswith("_Date >=")
        else:
            assert r.SQLText == "" and r.RowsAffected == 0


def test_stem_hour():
    assert corpus.stem_hour("25052607") == (dt.date(2025, 5, 26), 7)
    assert corpus.file_stem(0) == "25030100"
    assert corpus.file_stem(25) == "25030201"
