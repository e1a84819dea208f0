r"""Typed parse layer over raw (path, offset, record) log DataFrames.

Spark-native re-statement of the reference's downstream parse step
(Test.java:119-121, 211-215 map function; LogfileType.java:47-51 DOTALL
regex with named groups).  Where the reference dispatches on a
driver-side ``HashMap<path, LogfileType>`` closed over by a lambda, we
stay entirely in Catalyst: each record is split once on the field
separator and the layout is told apart by which of the first two
fields is the timestamp, so the whole parse is JVM-side,
codegen-friendly, and needs no per-path configuration at all.

Layouts (LogfileType.java:21-23 parity):

- A: ``<timestamp> | <level> | <logger> | <message...>``
- B: ``<level> | <timestamp> | <logger> | <message...>``

The split gives exactly the groups of the reference's regex
``^(TS)\s\|\s(LV)\s\|\s(.*?)\s\|\s(.*)$`` under DOTALL: neither a
timestamp nor a level contains ``|``, so the first two separators sit
right after them; the lazy logger group ends at the next separator,
which is where the split's third cut falls; and the greedy message
group is the unsplit remainder, continuation lines included.  The
timestamp check is anchored with ``\z``, not ``$``: Java's ``$`` also
matches before a final line terminator, which would accept a field of
``<TS>\n`` that the reference regex rejects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_TS = r"[0-9]{4}-[0-9]{2}-[0-9]{2}\s[0-2][0-9]:[0-5][0-9]:[0-5][0-9],[0-9]{3}"
_TS_FIELD = rf"^{_TS}\z"
_LEVELS = ("INFO", "WARN", "ERROR")
_SEP = r"\s\|\s"

#: yyyy-MM-dd HH:mm:ss,SSS (LogfileType.java:28)
TIMESTAMP_FORMAT = "yyyy-MM-dd HH:mm:ss,SSS"


def parse_log_records(df: DataFrame, record_col: str = "record") -> DataFrame:
    """Add ``ts TIMESTAMP, level STRING, logger STRING, message STRING``
    parsed from either record layout (null on no match; an empty
    logger or message is null too).

    One ``split`` per record and one projection — pure column
    expressions, so at 100 TB this stays inside whole-stage codegen;
    never a Python UDF (SURVEY.md §2.8 U1 mapping).
    """
    f = F.split(F.col(record_col), _SEP, 4)
    # ``get``, unlike ``[]``, is null past the end under ANSI too
    f0, f1 = F.get(f, 0), F.get(f, 1)
    four = F.size(f) == 4
    is_a = four & f0.rlike(_TS_FIELD) & f1.isin(*_LEVELS)
    is_b = four & f1.rlike(_TS_FIELD) & f0.isin(*_LEVELS)

    def tail(i: int):
        # empty -> null by a plain condition: Spark rewrites
        # ``nullif``'s shared operand into a second projection, which
        # splits the record a second time
        v = F.get(f, i)
        return F.when((is_a | is_b) & (v != ""), v)

    return df.withColumns(
        {
            "ts": F.to_timestamp(
                F.when(is_a, f0).when(is_b, f1), TIMESTAMP_FORMAT
            ),
            "level": F.when(is_a, f1).when(is_b, f0),
            "logger": tail(2),
            "message": tail(3),
        }
    )


def format_record_lines(df: DataFrame) -> DataFrame:
    """`"%s@%016d:\\n\\n%s\\n\\n"` projection of Sample.java:100 parity —
    one formatted string column per record, ready for a text sink."""
    return df.select(
        F.format_string("%s@%016d:\n\n%s\n\n", "path", "offset", "record").alias("value")
    )
