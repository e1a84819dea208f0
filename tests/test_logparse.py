r"""Property test: the one-split ``parse_log_records`` against the
two-regex form it replaced.

The oracle below is the earlier parse, kept verbatim as the reference
semantics: two full-record DOTALL ``regexp_extract``s per column (one
per layout, LogfileType.java:47-51 parity) with the first non-empty
group winning.  Every generated record must parse to the same ``ts``,
``level``, ``logger`` and ``message`` under both forms, nulls included.
"""

from datetime import datetime, timedelta

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Column
from pyspark.sql import functions as F

from hadoop_logfile_inputformat_spark.functions.logparse import (
    TIMESTAMP_FORMAT,
    parse_log_records,
)

_TS = r"[0-9]{4}-[0-9]{2}-[0-9]{2}\s[0-2][0-9]:[0-5][0-9]:[0-5][0-9],[0-9]{3}"
_LV = r"INFO|WARN|ERROR"
_LAYOUT_A = rf"(?s)^({_TS})\s\|\s({_LV})\s\|\s(.*?)\s\|\s(.*)$"
_LAYOUT_B = rf"(?s)^({_LV})\s\|\s({_TS})\s\|\s(.*?)\s\|\s(.*)$"

_COLS = ("ts", "level", "logger", "message")


def _first_nonempty(*cols: Column) -> Column:
    out = None
    for c in cols:
        c = F.nullif(c, F.lit(""))
        out = c if out is None else F.coalesce(out, c)
    return out


def _oracle_columns(r: Column) -> dict:
    def both(a: int, b: int) -> Column:
        return _first_nonempty(
            F.regexp_extract(r, _LAYOUT_A, a), F.regexp_extract(r, _LAYOUT_B, b)
        )

    return {
        "ts": F.to_timestamp(both(1, 2), TIMESTAMP_FORMAT),
        "level": both(2, 1),
        "logger": both(3, 3),
        "message": both(4, 4),
    }


TS = "2024-03-05 07:08:09,123"

_EPOCH = datetime(2000, 1, 1)
good_ts = st.integers(0, 30 * 365 * 86400 * 1000).map(
    lambda ms: (_EPOCH + timedelta(milliseconds=ms)).strftime("%Y-%m-%d %H:%M:%S,%f")[:-3]
)


@st.composite
def bad_ts(draw):
    """A timestamp that no longer matches the layout's pattern; one that
    still matched it but could not be parsed would fail both forms
    alike under ANSI, so none is drawn."""
    ts = draw(good_ts)
    i = draw(st.integers(0, len(ts) - 1))
    how = draw(st.sampled_from(["drop", "letter", "newline", "space", "lead"]))
    if how == "drop":
        return ts[:i] + ts[i + 1:]
    if how == "letter":
        return ts[:i] + "x" + ts[i + 1:]
    if how == "newline":
        return ts + "\n"
    if how == "space":
        return ts + " "
    return " " + ts


level = st.sampled_from(["INFO", "WARN", "ERROR", "DEBUG", "", "info", "INFO ", "ERRORS"])
_WS = [" ", "\t", "\n", "\r", "\x0b", "\x0c"]
good_sep = st.tuples(st.sampled_from(_WS), st.sampled_from(_WS)).map(
    lambda p: p[0] + "|" + p[1]
)
bad_sep = st.sampled_from([" |", "| ", "|", " || ", "  ", " ; ", " | "])
sep = st.one_of(good_sep, good_sep, good_sep, bad_sep)
chunk = st.lists(
    st.sampled_from(
        ["a", "Zz", "x.y.Z", "|", " ", "\t", "\n", "\r", " | ", "\t|\n", "INFO", "é", TS]
    ),
    max_size=8,
).map("".join)


@st.composite
def record(draw):
    ts = draw(st.one_of(good_ts, good_ts, bad_ts()))
    lv = draw(level)
    fields = ([ts, lv] if draw(st.booleans()) else [lv, ts]) + [draw(chunk), draw(chunk)]
    fields = fields[: draw(st.sampled_from([4, 4, 4, 3, 2, 1]))]
    out = fields[0]
    for f in fields[1:]:
        out += draw(sep) + f
    return out


@settings(max_examples=50, deadline=None)
@given(records=st.lists(st.one_of(record(), chunk), min_size=1, max_size=40))
@example(records=[f"{TS} | INFO | a|b | m | n", f"WARN | {TS} | | | m"])
@example(records=[f"{TS} | INFO |  | m", f"{TS} | INFO | a | ", f"ERROR | {TS} |  | "])
@example(records=[f"{TS}\t|\tINFO\r|\nlog\n|\tm", f"INFO\x0b|\x0c{TS}\r|\rlog\t|\tm"])
@example(records=[f"{TS} | INFO | a | m |", f"{TS} | INFO | a |", f"{TS} | INFO | a | m | "])
@example(records=[f"{TS}\n | INFO | a | m", f"INFO | {TS}\n | a | m", f"{TS} | INFO\n | a | m"])
@example(records=[f"{TS} | DEBUG | a | m", f"DEBUG | {TS} | a | m"])
@example(records=[f"{TS} | INFO | a", f"{TS} | INFO", TS, "", None])
@example(
    records=[
        f"{TS} | ERROR | com.x.Svc | boom\njava.lang.NullPointerException\n"
        "\tat com.x.Frame0.run(Frame0.java:12)\n\tat com.x.Frame1.run(Frame1.java:7)",
        f"ERROR | {TS} | com.x.Svc | first | line\nCaused by: x | y\n\tat a.B(B.java:1)\n",
    ]
)
def test_one_split_parse_matches_two_regex_form(spark, records):
    # the exchange keeps the optimizer from folding both projections into
    # the local relation, so they run as generated code, as in production
    df = spark.createDataFrame(list(enumerate(records)), "i int, record string").repartition(1)
    oracle = _oracle_columns(F.col("record"))
    got = parse_log_records(df).select(
        "i", *_COLS, *(oracle[c].alias(f"want_{c}") for c in _COLS)
    )
    for row in got.collect():
        for c in _COLS:
            assert row[c] == row[f"want_{c}"], (records[row.i], c, row[c], row[f"want_{c}"])


def test_pinned_values(spark):
    """A few outputs stated outright, so the oracle itself is checked."""
    df = spark.createDataFrame(
        [(f"{TS} | INFO | | | m",), (f"{TS}\n | INFO | a | m",), (f"WARN | {TS} | lg |  ",)],
        "record string",
    )
    rows = (
        parse_log_records(df)
        .withColumn("ts", F.date_format("ts", TIMESTAMP_FORMAT))
        .collect()
    )
    assert (rows[0].ts, rows[0].level, rows[0].logger, rows[0].message) == (TS, "INFO", "|", "m")
    assert (rows[1].ts, rows[1].level, rows[1].logger, rows[1].message) == (None,) * 4
    assert (rows[2].level, rows[2].logger, rows[2].message) == ("WARN", "lg", " ")
