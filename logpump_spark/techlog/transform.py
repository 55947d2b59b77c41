"""LogEntry -> TechLogRow projection + validity split.

Faithful to /root/reference/internal/transform/transform.go:14-73 and the
sink schema (models.go:38-55, DDL README.md:111-131):

- EventDate from the FILENAME: '25052607.log' -> 2025-05-26 (chars 0:6
  prefixed '20'); hour = chars 6:8 via Atoi (transform.go:16-24)
- EventTime composed from date + hour + the first 'mm:ss.ffffff' match in
  LogTimestamp (BOM-stripped); Go's layout '15:04:05.000000' requires the
  fraction to be EXACTLY six digits — shorter fractions fail both parses
  and the row is rejected (transform.go:27-45)
- Duration = uint32 parse of everything after the FIRST '-' in
  LogTimestamp; parse failure -> 0, overflow -> MaxUint32 (Go ParseUint
  ErrRange value, error discarded; transform.go:47-53)
- SessionID downcast u64 -> u32 truncates mod 2^32 (transform.go:62)
- ExceptionType/ErrorText always NULL (transform.go:65-66); SQLText/Rows/
  RowsAffected/Context are non-nil pointers -> never NULL (transform.go:67-70)
- malformed rows are dropped, batch proceeds (clickhouse.go:91-95); we
  improve on silent dropping with an explicit dead-letter split
  (SURVEY.md §7.3 risk #4) so totals reconcile

Divergences (documented): Go would panic on len(filename) in [6,8) and
ships garbage dates for non-digit filenames (ClickHouse would then reject
the row server-side); we reject both cases client-side — same net effect,
row never lands.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .parser import _U32_MAX, _Chain, parse_uint

TECHLOG_COLUMNS = (
    "EventDate EventTime EventType Duration User InfoBase SessionID ClientID "
    "ConnectionID ExceptionType ErrorText SQLText Rows RowsAffected Context "
    "ProcessName"
).split()


def _event_date_parts(ts: Column) -> tuple[Column, Column, Column]:
    date_str = F.concat(
        F.lit("20"),
        ts.substr(1, 2),
        F.lit("-"),
        ts.substr(3, 2),
        F.lit("-"),
        ts.substr(5, 2),
    )
    hour_str = ts.substr(7, 2)
    # Atoi accepts a sign (transform.go:21); a negative/invalid hour then
    # fails the time parse and rejects the row either way
    hour_ok = hour_str.rlike(r"^[+-]?[0-9]+\z")
    hour = F.when(hour_ok, hour_str.try_cast("int")).otherwise(F.lit(None))
    return date_str, hour, F.length(ts) >= 8


def transform_entries(entries: DataFrame) -> DataFrame:
    """Add the TechLogRow columns + `_valid`/`_reject_reason` to a LogEntry
    DataFrame.  A chain of projections (parser._Chain), no shuffle: the
    BOM-stripped LogTimestamp, the time match, the hour, the event time
    and the reject reason are each referenced several times, so each is
    computed once and referenced by name."""
    let = _Chain(entries)
    ts = F.col("Timestamp")
    date_str, hour, len_ok = _event_date_parts(ts)

    raw, hour, event_date = let(
        # BOM, transform.go:29
        __lp_raw=F.regexp_replace(F.col("LogTimestamp"), "^\\uFEFF", ""),
        __lp_hour=hour,
        __lp_event_date=date_str.try_cast("date"),
    )
    (match,) = let(__lp_match=F.regexp_extract(raw, r"\d{2}:\d{2}\.\d{1,6}", 0))
    # Go time.Parse('...05.000000') demands exactly 6 fraction digits
    match6 = match.rlike(r"^\d{2}:\d{2}\.\d{6}\z")

    event_time_str = F.concat(
        date_str, F.lit(" "), F.format_string("%02d", hour), F.lit(":"), match
    )
    dash_idx = F.instr(raw, "-")
    dur_str = F.when(dash_idx > 0, raw.substr(dash_idx + 1, F.length(raw)))
    event_time, duration = let(
        __lp_event_time=F.when(
            match6,
            F.try_to_timestamp(event_time_str, F.lit("yyyy-MM-dd HH:mm:ss.SSSSSS")),
        ),
        __lp_duration=parse_uint(F.coalesce(dur_str, F.lit("")), _U32_MAX),
    )

    (reject_reason,) = let(
        __lp_reject_reason=F.when(~len_ok, F.lit("bad_filename"))
        .when(hour.isNull(), F.lit("bad_hour"))
        .when(event_date.isNull(), F.lit("bad_date"))
        .when(match == "", F.lit("no_time_match"))
        .when(event_time.isNull(), F.lit("bad_event_time"))
    )

    return let.df.select(
        *entries.columns,
        event_date.alias("EventDate"),
        event_time.alias("EventTime"),
        F.col("Component").alias("EventTypeOut"),
        duration.alias("Duration"),
        F.pmod(F.col("SessionID"), F.lit(1 << 32)).cast("long").alias("SessionIDOut"),
        reject_reason.alias("_reject_reason"),
        reject_reason.isNull().alias("_valid"),
    )


def to_techlog_rows(entries: DataFrame) -> tuple[DataFrame, DataFrame]:
    """-> (valid TechLogRow DataFrame in sink column order, dead-letter
    DataFrame with reject reasons)."""
    t = transform_entries(entries)
    rows = t.filter(F.col("_valid")).select(
        F.col("EventDate"),
        F.col("EventTime"),
        F.col("EventTypeOut").alias("EventType"),
        F.col("Duration"),
        F.col("User"),
        F.col("Database").alias("InfoBase"),
        F.col("SessionIDOut").alias("SessionID"),
        F.col("ClientID"),
        F.col("ConnectID").alias("ConnectionID"),
        F.lit(None).cast("string").alias("ExceptionType"),
        F.lit(None).cast("string").alias("ErrorText"),
        F.col("SQL").alias("SQLText"),
        F.col("Rows"),
        F.col("RowsAffected"),
        F.col("Context"),
        F.col("ProcessName"),
    )
    rejects = t.filter(~F.col("_valid")).select(
        "Timestamp", "LogTimestamp", F.col("_reject_reason").alias("reject_reason")
    )
    return rows, rejects
