"""Record -> LogEntry parsing as pure Column expressions.

Faithful to /root/reference/internal/parser/*.go, field by field:

- record split at the first ``Sql=`` marker (parser.go:50-66); the char
  right after the marker is the quote delimiter
- escape-aware quoted SQL scan where a backslash escapes the next char AND
  is itself dropped from the output (sql_extractor.go:30-37: the escape
  byte is never written) — regex equivalent: capture ``(?:[^q\\]|\\.)*``
  then strip the backslashes with a second regexp_replace
- embedded ``YYYY-MM-DD HH:MM:SS`` literals scrubbed from SQL, then
  TrimSpace (sql_extractor.go:14, 25-27, 41-43); unterminated quote keeps
  the whole tail (sql_extractor.go:40-44)
- Context = substring after the first ``,Context='`` up to the LAST single
  quote; no closing quote keeps the whole tail (context_extractor.go:6-17)
- positional header: fields 0/1/2 are LogTimestamp/Component/Severity
  (TrimSpace); remaining comma parts split on the FIRST '=' with key
  TrimSpace'd and value trimmed of spaces AND single quotes
  (parser.go:68-88); duplicate keys: last wins (Go map overwrite)
- silent numeric parses: Go strconv with the error DISCARDED
  (parser.go:98-116).  Syntax errors yield 0 (Go returns 0 with
  ErrSyntax), but RANGE errors saturate: strconv.ParseUint returns the
  max value for the bit size on ErrRange, ParseInt returns MaxInt32 /
  MinInt32 by sign — and since the reference ignores the error, the
  saturated value is what lands in the row

Everything stays in whole-stage codegen, and no session conf is touched:
Go's last-duplicate-wins map overwrite (parser.go:84) is expressed by
dropping earlier duplicates from the entries array before
map_from_entries, instead of mutating spark.sql.mapKeyDedupPolicy on a
possibly-shared session.

Two Java-regex traps are avoided on purpose: ``$`` also matches before
a FINAL line terminator (so anchors use ``\\z``), and ``.`` skips line
terminators unless ``(?s)`` is set.  Go has neither quirk.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_U8_MAX = 255
_U32_MAX = 4_294_967_295
_I32_MIN, _I32_MAX = -2_147_483_648, 2_147_483_647

# Go's unicode.IsSpace set, which strings.TrimSpace strips; Spark's
# one-argument trim strips only ' '
_GO_SPACE = (
    "\t\n\v\f\r \x85\xa0\u1680"
    + "".join(map(chr, range(0x2000, 0x200B)))
    + "\u2028\u2029\u202f\u205f\u3000"
)

# keys projected out of the header map (parser.go:17-43); everything else
# is silently dropped, missing keys default to '' (parser.go:91-96)
HEADER_KEYS = {
    "Level": "level",
    "Process": "process",
    "ProcessName": "p:processName",
    "OSThread": "OSThread",
    "ClientID": "t:clientID",
    "ApplicationName": "t:applicationName",
    "ComputerName": "t:computerName",
    "ConnectID": "t:connectID",
    "SessionID": "SessionID",
    "User": "Usr",
    "DBMS": "DBMS",
    "Database": "DataBase",
    "Trans": "Trans",
    "DBPID": "dbpid",
    "EventType": "Event",
    "File": "File",
}


def parse_uint(s: Column, max_value: int) -> Column:
    """Go strconv.ParseUint(s, 10, bits) with the error discarded
    (parser.go:98-116): digits only, no sign, no spaces.  Syntax error
    -> 0; range overflow -> ``max_value`` (Go returns the bit-size max on
    ErrRange and the reference keeps that value).  A 64-bit caller passes
    ``(1 << 63) - 1``: values in [2^63, 2^64) don't fit a Spark long, so
    they saturate to long max instead of Go's MaxUint64 — documented
    divergence, unreachable for real 1C ids."""
    n = s.try_cast("long")
    digits = s.rlike(r"^[0-9]+\z")
    in_range = n.isNotNull() & (n <= max_value)
    return (
        F.when(digits & in_range, n)
        .when(digits, F.lit(max_value))  # ErrRange (incl. > long max)
        .otherwise(F.lit(0))
        .cast("long")
    )


def parse_int32(s: Column) -> Column:
    """Go strconv.ParseInt(s, 10, 32) with the error discarded: optional
    sign; syntax error -> 0; range overflow saturates to MaxInt32 /
    MinInt32 by sign (Go's ErrRange value)."""
    n = s.try_cast("long")
    syntax = s.rlike(r"^[+-]?[0-9]+\z")
    in_range = n.isNotNull() & (n >= _I32_MIN) & (n <= _I32_MAX)
    return (
        F.when(syntax & in_range, n)
        .when(syntax & s.startswith("-"), F.lit(_I32_MIN))
        .when(syntax, F.lit(_I32_MAX))
        .otherwise(F.lit(0))
        .cast("int")
    )


def _trim_space(s: Column) -> Column:
    """Go strings.TrimSpace."""
    return F.trim(s, F.lit(_GO_SPACE))


def _sql_scan(rest: Column, quote: Column) -> Column:
    """``rest`` up to AND including its closing quote; '' when the quote
    is unterminated or the delimiter is neither ' nor " (both fall back
    to "no closing quote" = the whole tail).  The match is ^-anchored,
    so one regex run yields the SQL (all but the last char), whether it
    closed (non-empty) and the remainder (by position)."""

    def pat(q: str) -> str:
        qe = "\\" + q
        # "unrolled loop" form [^q\]*(?:\.[^q\]*)* instead of the per-char
        # alternation (?:[^q\]|\.)* — same language, linear-time on Java's
        # backtracking regex engine instead of alternation-per-character
        body = r"[^" + qe + r"\\]*(?:\\.[^" + qe + r"\\]*)*"
        return r"(?s)^(" + body + qe + r")"

    return (
        F.when(quote == "'", F.regexp_extract(rest, pat("'"), 1))
        .when(quote == '"', F.regexp_extract(rest, pat('"'), 1))
        .otherwise(F.lit(""))
    )


def _sql_text(rec: Column, at: Column, rest: Column, scan: Column) -> Column:
    """Unescape, timestamp scrub, TrimSpace (sql_extractor.go:14-45);
    '' without a Sql= marker or when the marker ends the record."""
    raw = F.when(
        F.length(scan) > 0, scan.substr(F.lit(1), F.length(scan) - 1)
    ).otherwise(rest)
    # Go's scanner never writes the escape byte (sql_extractor.go:30-37)
    unescaped = F.regexp_replace(raw, r"(?s)\\(.)", "$1")
    scrubbed = F.regexp_replace(
        unescaped, r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}", ""
    )
    return F.when(
        (at > 0) & (F.length(rec) >= at + 4), _trim_space(scrubbed)
    ).otherwise(F.lit(""))


def _context_text(rec: Column, at: Column, ctx_at: Column, tail: Column) -> Column:
    """Context to the LAST quote of its tail (context_extractor.go:12);
    no quote keeps the whole tail.  Last-quote position via reverse+instr
    — one linear pass instead of the greedy (?s)^(.*)' regex."""
    last_q = F.length(tail) - F.instr(F.reverse(tail), "'") + 1
    ctx = F.when(tail.contains("'"), tail.substr(F.lit(1), last_q - 1)).otherwise(tail)
    return (
        F.when((at > 0) & (F.length(rec) < at + 4), F.lit(""))
        .when(ctx_at > 0, ctx)
        .otherwise(F.lit(""))
    )


# A binder turns a stage of named expressions into the Columns later
# stages use: either the expressions themselves (inline) or references
# to columns computed once by a projection (see _Chain).
Let = Callable[..., list]


def _inline(**cols: Column) -> list[Column]:
    return list(cols.values())


class _Chain:
    """Each call adds one projection holding the named columns and
    returns references to them.  Spark's CollapseProject does not merge
    a non-cheap producer that a consumer references more than once, so
    every shared intermediate stays computed once in the optimized
    plan, while the chain still compiles into one codegen stage."""

    def __init__(self, df: DataFrame):
        self.df = df

    def __call__(self, **cols: Column) -> list[Column]:
        self.df = self.df.withColumns(cols)
        return [F.col(name) for name in cols]


def _header_map(parts: Column, let: Let) -> Column:
    """key=value pairs from comma parts 3.. (parser.go:80-86): key
    TrimSpace'd, value trimmed of spaces and single quotes, first '='
    splits, '=' at position 0 skipped, last duplicate wins."""
    kv = F.slice(parts, 4, F.greatest(F.size(parts) - 3, F.lit(0)))
    # Go: eq := strings.Index(part, "="); eq > 0  => at least one char
    # before the '=' (1-based instr > 1)
    valid = F.filter(kv, lambda p: F.instr(p, "=") > 1)
    (entries,) = let(
        __lp_entries=F.transform(
            valid,
            lambda p: F.struct(
                _trim_space(p.substr(F.lit(1), F.instr(p, "=") - 1)).alias("key"),
                # strings.Trim(v, " '"): a character-set trim
                F.trim(p.substr(F.instr(p, "=") + 1, F.length(p)), F.lit(" '")).alias(
                    "value"
                ),
            ),
        )
    )
    # Go map assignment overwrites on duplicate keys (parser.go:84):
    # keep only the LAST occurrence of each key.  Done in-expression (an
    # entry survives iff no later entry shares its key) so the default
    # EXCEPTION dedup policy never fires and no session conf is mutated.
    # O(k^2) over the ~16 header keys of one record — stays in codegen.
    last_wins = F.filter(
        entries,
        lambda e, i: ~F.exists(
            F.slice(entries, i + 2, F.size(entries)),
            lambda later: later["key"] == e["key"],
        ),
    )
    return F.map_from_entries(last_wins)


class _Plane(NamedTuple):
    header: Column
    parts: Column
    sql: Column
    context: Column
    header_map: Column


def _parse_plane(rec: Column, let: Let) -> _Plane:
    """The whole record split (parser.go:50-88), one ``let`` per stage
    of intermediates that later stages share."""
    (at,) = let(__lp_sql_at=F.instr(rec, "Sql="))  # 1-based, 0 if absent
    header, quote, rest = let(
        __lp_header=F.when(at > 0, rec.substr(F.lit(1), at - 1)).otherwise(rec),
        __lp_quote=rec.substr(at + F.lit(4), F.lit(1)),  # '' at end of record
        __lp_rest=rec.substr(at + F.lit(5), F.length(rec)),
    )
    scan, parts = let(__lp_scan=_sql_scan(rest, quote), __lp_parts=F.split(header, ","))
    # Context comes from the remainder after SQL, or the whole record when
    # there is no Sql= marker (parser.go:53-54, :65)
    after = F.when(
        F.length(scan) > 0, rest.substr(F.length(scan) + 1, F.length(rest))
    ).otherwise(F.lit(""))
    sql, ctx_source = let(
        __lp_sql=_sql_text(rec, at, rest, scan),
        __lp_ctx_source=F.when(at > 0, after).otherwise(rec),
    )
    (ctx_at,) = let(__lp_ctx_at=F.instr(ctx_source, ",Context='"))
    (ctx_tail,) = let(
        __lp_ctx_tail=ctx_source.substr(ctx_at + F.lit(10), F.length(ctx_source))
    )
    (context,) = let(__lp_context=_context_text(rec, at, ctx_at, ctx_tail))
    (m,) = let(__lp_map=_header_map(parts, let))
    return _Plane(header, parts, sql, context, m)


def split_record(rec: Column) -> tuple[Column, Column, Column]:
    """-> (header_part, sql_text, context_text), per ParseLogRecord
    (parser.go:50-66), as inline expressions."""
    p = _parse_plane(rec, _inline)
    return p.header, p.sql, p.context


def header_map(header_part: Column) -> Column:
    """The last-wins key=value map of a header part, inline."""
    return _header_map(F.split(header_part, ","), _inline)


def _entry_cols(plane: _Plane, fn: Column) -> list[Column]:
    """The 24 LogEntry output expressions (models.go:8-34).  ``hv(go_key)``
    = header value or '' (parser.go:91-96); ``pos(i)`` = TrimSpace'd
    positional field or '' (Go guards each with a len(parts) check,
    parser.go:71-77 -> try_element_at, missing -> '')."""

    def hv(go_key: str) -> Column:
        return F.coalesce(F.element_at(plane.header_map, go_key), F.lit(""))

    def pos(i: int) -> Column:
        return F.coalesce(_trim_space(F.try_element_at(plane.parts, F.lit(i))), F.lit(""))

    return [
        fn.alias("Timestamp"),  # filename (tail.go:77)
        pos(1).alias("LogTimestamp"),
        pos(2).alias("Component"),
        parse_uint(pos(3), _U8_MAX).cast("smallint").alias("Severity"),
        hv("level").alias("Level"),
        hv("process").alias("Process"),
        hv("p:processName").alias("ProcessName"),
        parse_uint(hv("OSThread"), _U32_MAX).alias("OSThread"),
        parse_uint(hv("t:clientID"), _U32_MAX).alias("ClientID"),
        hv("t:applicationName").alias("ApplicationName"),
        hv("t:computerName").alias("ComputerName"),
        parse_uint(hv("t:connectID"), _U32_MAX).alias("ConnectID"),
        # ParseUint 64-bit; long covers 1C's realistic range, overflow -> 0
        parse_uint(hv("SessionID"), (1 << 63) - 1).alias("SessionID"),
        hv("Usr").alias("User"),
        hv("DBMS").alias("DBMS"),
        hv("DataBase").alias("Database"),
        parse_uint(hv("Trans"), _U32_MAX).alias("Trans"),
        parse_uint(hv("dbpid"), _U32_MAX).alias("DBPID"),
        plane.sql.alias("SQL"),
        parse_int32(hv("Rows")).alias("Rows"),
        parse_int32(hv("RowsAffected")).alias("RowsAffected"),
        plane.context.alias("Context"),
        hv("Event").alias("EventType"),
        hv("File").alias("File"),
        F.current_timestamp().alias("InsertedAt"),
    ]


def parse_records(
    df: DataFrame,
    record_col: str = "record",
    filename_col: str = "filename",
    split_stages: bool | None = None,
) -> DataFrame:
    """records -> 24-field LogEntry DataFrame (models.go:8-34).

    Column types follow SURVEY.md §1.3 (unsigned Go ints -> long;
    InsertedAt = current_timestamp(), parser.go:42).

    The parse is a chain of projections (``_parse_plane`` over
    ``_Chain``): the Sql= index, header part, quote char and SQL tail;
    the SQL scan and the comma-split header; SQL text, Context source
    and header entries; Context index and tail; Context text and the
    last-wins header map; then the 24 output columns.  Each shared
    intermediate is computed once and referenced by name, so the
    optimized plan stays small (no subtree is re-inlined per consumer)
    and every micro-batch plans it quickly.  Intermediates carry the
    ``__lp_`` prefix so a passthrough column cannot collide with them.

    ``split_stages`` (session conf ``logpump.parse.splitProjection``,
    default true) puts one round-robin exchange between the
    intermediates and the 24-column projection, spreading the regex
    work evenly whatever the upstream partition layout; the streaming
    pump passes ``False`` because the exchange would recur on every
    micro-batch.  Both shapes evaluate the same expressions.
    """
    keep = [c for c in df.columns if c not in (record_col, filename_col)]
    if split_stages is None:
        split_stages = (
            df.sparkSession.conf.get(
                "logpump.parse.splitProjection", "true"
            ).lower()
            == "true"
        )
    chain = _Chain(df)
    plane = _parse_plane(F.col(record_col), chain)
    mid = chain.df
    if split_stages:
        try:
            par = df.sparkSession.sparkContext.defaultParallelism
        except Exception:  # Connect sessions expose no sparkContext
            # fall back to the session's shuffle width, not a literal — a
            # hardcoded 32 would underpartition the parse stage on a large
            # cluster driven through Connect
            par = int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
            )
        mid = mid.select(
            *keep, filename_col, plane.parts, plane.sql, plane.context, plane.header_map
        ).repartition(par)
    return mid.select(*keep, *_entry_cols(plane, F.col(filename_col)))
