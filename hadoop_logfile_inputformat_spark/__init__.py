"""PySpark-native analytics engine with the capabilities of
comdirect/hadoop-logfile-inputformat, rebuilt Spark-first.

The reference (see /root/reference, SURVEY.md) is a Hadoop
``FileInputFormat`` that turns (possibly gzipped) multi-line logfiles
into ``((path, offset), record_text)`` pairs. Here that capability is a
PySpark Python DataSource (``sources.logfile``) producing a DataFrame
``(path STRING, offset BIGINT, record STRING)``, plus:

- ``functions``  — typed log parsing, text analysis, vector math
- ``operators``  — relational query builders, dedup, similarity search
- ``plans``      — the query registry consumed by ``__spark_entry__``
- ``streaming``  — incremental (file, offset)-tracking stream source
- ``testing``    — deterministic log corpus generator (parity with the
  reference's LogfileGenerator.java test harness)
"""

__version__ = "0.1.0"

_LAZY = ("LogfileDataSource", "register_logfile_source")


def __getattr__(name):
    # PEP 562: importing the package imports no pyspark, so the worker
    # daemon (``_daemon``) can fix ``sys.path`` before pyspark loads.
    if name in _LAZY:
        from hadoop_logfile_inputformat_spark.sources import logfile

        return getattr(logfile, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
