"""Seeded synthetic 1C tech-log corpus for the pump workloads.

Files follow the FIXTURES.md §2 grammar: ``YYMMDDHH.log`` names, records
``mm:ss.ffffff-DURATION,COMPONENT,SEVERITY,key=value,...`` with optional
multi-line ``Sql='...'`` and ``,Context='...'`` tails.

Unlike a single-component corpus, this one routes to several tables:
three components map to their own sink tables and the rest fall through
to the default table.  Record lengths vary (0-7 extra SQL lines, 0-5
Context lines, word counts drawn per record).

Every file gets a distinct ``YYMMDDHH`` stem, so a sink row's
``(EventDate, hour(EventTime))`` names the file it came from.  Within a
file every record has a distinct ``mm:ss.ffffff``, so a sink row's
``EventTime`` names its record.  For each well-formed record the
generator records the value every sink column must hold (``SinkRow``),
so a check compares whole rows, parsed fields and multi-line SQL/Context
included.

Malformed input is planted in known amounts and reported in
``CorpusFile.rejects``:

- a headless prefix (text before the first record-start line) is one
  rejected record (no ``mm:ss`` match);
- a record whose fraction has three digits instead of six is rejected
  (the reference's time layout demands exactly six);
- a file whose hour characters are not digits (``bad_hour``) rejects
  every record in it.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import re
from dataclasses import dataclass, field
from typing import NamedTuple

# component -> sink table; components not listed go to DEFAULT_TABLE
TABLE_MAP = {"DBMSSQL": "t_dbmssql", "EXCP": "t_excp", "CALL": "t_call"}
DEFAULT_TABLE = "tech_log"
_COMPONENT_WEIGHTS = (
    ("DBMSSQL", 40),
    ("CALL", 20),
    ("EXCP", 10),
    ("TLOCK", 10),
    ("CONN", 8),
    ("SCALL", 7),
    ("SDBL", 5),
)
_WORDS = (
    "Документ Справочник Регистр Проведение Запись Форма Модуль Объект "
    "Продажа Склад Номенклатура Контрагент Обработка Отчет Остатки "
    "select from where join group order inner left update insert delete "
    "_Document _Reference _AccumRg _InfoRg _Fld _IDRRef _Period _Date "
    "Value Ref Posted Marked Number Code Description Owner Parent"
).split()

START = dt.datetime(2025, 3, 1, 0, 0)


def table_for(component: str) -> str:
    return TABLE_MAP.get(component, DEFAULT_TABLE)


class SinkRow(NamedTuple):
    """One routed sink row: the ``_table`` partition and the sink's
    columns (``EventDate`` is the file's, from its stem)."""

    table: str
    EventTime: dt.datetime
    EventType: str
    Duration: int
    User: str
    InfoBase: str
    SessionID: int
    ClientID: int
    ConnectionID: int
    ExceptionType: None
    ErrorText: None
    SQLText: str
    Rows: int
    RowsAffected: int
    Context: str
    ProcessName: str


# the sink columns a SinkRow holds, in SinkRow order
SINK_COLUMNS = SinkRow._fields[1:]


def row_order(row: SinkRow) -> tuple:
    """Sort key of a file's rows; ``EventTime`` is unique within a file."""
    return row.table, row.EventTime


@dataclass
class CorpusFile:
    """One log file: its name, its bytes, what the sink must hold for it
    (``expected``: one ``SinkRow`` per well-formed record, sorted) and how
    many records it must add to ``_rejects``."""

    name: str
    text: str
    expected: list[SinkRow] = field(default_factory=list)
    rejects: int = 0

    @property
    def stem(self) -> str:
        return self.name[:-4]

    @property
    def records(self) -> int:
        return len(self.expected) + self.rejects


def file_stem(index: int) -> str:
    """Distinct ``YYMMDDHH`` for the ``index``-th file: consecutive hours
    from START."""
    return (START + dt.timedelta(hours=index)).strftime("%y%m%d%H")


def stem_hour(stem: str) -> tuple[dt.date, int]:
    """``YYMMDDHH`` -> (EventDate, hour) as the sink stores them."""
    return dt.date(2000 + int(stem[0:2]), int(stem[2:4]), int(stem[4:6])), int(stem[6:8])


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))


def _scrub_sql(sql: str) -> str:
    """What the sink keeps of a ``Sql='...'`` value: timestamps removed,
    spaces trimmed."""
    return re.sub(r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}", "", sql).strip(" ")


def _record(rng: random.Random, offset_us: int, component: str, frac_digits: int) -> tuple[str, dict]:
    """-> (record text, the sink column values it must parse to, bar
    ``table`` and ``EventTime``)."""
    mm, rest = divmod(offset_us, 60_000_000)
    ss, us = divmod(rest, 1_000_000)
    frac = f"{us:06d}"[:frac_digits]
    v = {"EventType": component, "Duration": rng.randint(1, 5_000_000),
         "ExceptionType": None, "ErrorText": None, "SQLText": "", "Rows": 0, "RowsAffected": 0}
    severity = rng.randint(0, 5)
    v["ProcessName"] = f"srv{rng.randint(1, 9):02d}"
    os_thread = rng.randint(1000, 9999)
    v["ClientID"] = rng.randint(1, 500)
    computer = rng.randint(1, 60)
    v["ConnectionID"] = rng.randint(1, 300)
    v["SessionID"] = rng.randint(1, 99999)
    v["User"] = f"user{rng.randint(1, 200)}"
    v["InfoBase"] = f"erp{rng.randint(1, 3)}"
    head = (
        f"{mm:02d}:{ss:02d}.{frac}-{v['Duration']},{component},{severity},"
        f"process=rphost,p:processName={v['ProcessName']},"
        f"OSThread={os_thread},t:clientID={v['ClientID']},"
        f"t:applicationName=1CV8C,t:computerName=WS-{computer:02d},"
        f"t:connectID={v['ConnectionID']},SessionID={v['SessionID']},"
        f"Usr={v['User']},DataBase={v['InfoBase']}"
    )
    if component == "EXCP":
        v["Context"] = _words(rng, 2, 12)
        return head + f",Event=Exception,Context='{v['Context']}'", v
    if component in ("DBMSSQL", "SDBL"):
        lines = [f"SELECT {_words(rng, 2, 10)}"] + [
            _words(rng, 1, 12) for _ in range(rng.randint(0, 7))
        ]
        v["Context"] = "\n".join(_words(rng, 1, 8) for _ in range(rng.randint(0, 5)))
        sql = "\n".join(lines) + " WHERE _Date >= 2025-03-01 07:00:00"
        v["SQLText"] = _scrub_sql(sql)
        v["Rows"], v["RowsAffected"] = rng.randint(0, 5000), rng.randint(0, 50)
        tail = (f",DBMS=DBMSSQL,Trans=1,dbpid={rng.randint(1, 9999)},Rows={v['Rows']},"
                f"RowsAffected={v['RowsAffected']},Sql='{sql}'")
        if v["Context"]:
            tail += ",Context='" + v["Context"] + "'"
        return head + tail, v
    v["Rows"] = rng.randint(0, 100)
    v["Context"] = _words(rng, 0, 6)
    return head + f",Rows={v['Rows']},Context='{v['Context']}'", v


def make_file(
    rng: random.Random,
    index: int,
    n_records: int,
    headless: bool = False,
    short_fraction_every: int = 0,
    bad_hour: bool = False,
) -> CorpusFile:
    """Build one file of ``n_records`` record-start records.

    ``short_fraction_every=k`` makes every k-th record malformed;
    ``bad_hour`` gives the file a non-digit hour so all of it rejects."""
    stem = file_stem(index)
    if bad_hour:
        stem = stem[:6] + "h" + stem[7]
    comps, weights = zip(*_COMPONENT_WEIGHTS)
    offsets = sorted(rng.sample(range(3_600_000_000), n_records))
    parts: list[str] = []
    out = CorpusFile(name=stem + ".log", text="")
    if headless:
        parts.append("log continued from previous rotation\n" + _words(rng, 3, 9))
        out.rejects += 1
    date, hour = (None, None) if bad_hour else stem_hour(stem)
    for i, off in enumerate(offsets):
        comp = rng.choices(comps, weights)[0]
        malformed = short_fraction_every and (i + 1) % short_fraction_every == 0
        text, values = _record(rng, off, comp, 3 if malformed else 6)
        parts.append(text)
        if bad_hour or malformed:
            out.rejects += 1
        else:
            t = dt.datetime(date.year, date.month, date.day, hour) + dt.timedelta(
                microseconds=off
            )
            out.expected.append(SinkRow(table=table_for(comp), EventTime=t, **values))
    out.text = "\n".join(parts) + "\n"
    out.expected.sort(key=row_order)
    return out


def backfill_corpus(seed: int, n_files: int, n_records: int, first_index: int = 0) -> list[CorpusFile]:
    """A catch-up backlog: ``n_files`` hourly files, every third with a
    headless prefix, one malformed record in 97 and the last file with a
    bad hour, so three reject reasons are present."""
    rng = random.Random(seed)
    return [
        make_file(
            rng,
            first_index + i,
            n_records,
            headless=i % 3 == 0,
            short_fraction_every=97,
            bad_hour=i == n_files - 1,
        )
        for i in range(n_files)
    ]


def stream_files(seed: int, n_files: int, n_records: int, first_index: int) -> list[CorpusFile]:
    """Files for the live stream: all joinable to the sink (no bad-hour
    file), every fifth with a headless prefix, one malformed record in
    97."""
    rng = random.Random(seed * 7919 + 1)
    return [
        make_file(
            rng,
            first_index + i,
            n_records,
            headless=i % 5 == 0,
            short_fraction_every=97,
        )
        for i in range(n_files)
    ]


def write_files(files: list[CorpusFile], directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for f in files:
        with open(os.path.join(directory, f.name), "w", encoding="utf-8") as fh:
            fh.write(f.text)
