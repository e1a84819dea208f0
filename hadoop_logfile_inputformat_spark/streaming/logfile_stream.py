"""``logfile-stream``: incremental Structured Streaming source for
multi-line logfiles.

The streaming port of the batch ``logfile`` source (SURVEY.md §2.7):
the reference's ``(path, offset)`` record key (LogfileRecordReader.java:304)
becomes the streaming *offset* — progress markers are
``{path: byte_position}`` per tracked file, which makes exactly-once
replay natural: the batch ``(start, end)`` re-scans exactly
``[start[path], end[path])`` of each file with the same boundary
algorithm the batch source uses.

Multi-line assembly across micro-batches (SURVEY.md §7.3 #5): a record
is not complete until its next first-line (or EOF) arrives.  This
reader only advances the committed offset past *complete* records: the
tail record of a batch is held back (its bytes re-read next batch)
unless the file has stopped growing — the ``tail_stable_batches``
option controls how many polls a file size must be unchanged before
the dangling tail is emitted as a final record.

One reader, ``LogfileStreamReader``, a partition-parallel
``DataSourceStreamReader``.  The driver's ``latestOffset`` only
inspects file tails (a bounded backwards scan for the last first-line
start — the largest safely-committable offset); executors then scan
each file's ``[start, end)`` backlog with the batch source's
``scan_partition_arrow``, split into ``maxPartitionBytes`` byte ranges
exactly like the batch source, so a firehose catch-up of a 10 GB file
fans out across the cluster and a tailed app log is one small task per
live file.  Reads are hard-capped at the batch-end offset
(``_CappedReader``), so a replayed batch sees exactly the bytes that
existed at planning time even if the file has grown — deterministic
exactly-once replay.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass
from typing import Iterator, List

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

from hadoop_logfile_inputformat_spark.sources.logfile import (
    DEFAULT_MAX_PARTITION_BYTES,
    PatternResolver,
    _COMPRESSION_OPENERS,
    _UNSUPPORTED_COMPRESSION,
    _file_exists,
    _file_size,
    _first_line_bytes_regex,
    _list_files,
    _open_raw,
    _scanner_option,
    scan_partition_arrow,
)

_LOG = logging.getLogger(__name__)

#: Suffixes excluded from the watched file set.  The streaming offset
#: model indexes RAW file bytes (raw sizes, raw opens); a
#: compressed rotation artifact (``app.log.1.gz``) appearing in a
#: ``dir/*`` glob would be mis-scanned — its content was already
#: consumed while it was the live plain file, and decompressed-vs-raw
#: byte frames cannot agree.  Compressed files are batch-source
#: territory (``spark.read.format("logfile")`` handles them whole-file).
_NON_TAILABLE = tuple(_COMPRESSION_OPENERS) + _UNSUPPORTED_COMPRESSION


def _tailable(path: str) -> bool:
    return not path.lower().endswith(_NON_TAILABLE)


@dataclass(frozen=True)
class LogfileStreamPartition(InputPartition):
    """One executor task of one micro-batch: a byte range of one file.

    ``end`` bounds record *ownership* (first-line starts in
    ``[start, end)``); ``cap`` bounds *reads* (the file's batch-end
    offset) so a record crossing a sub-split boundary can be completed
    while replay stays deterministic under concurrent appends.
    """

    path: str
    start: int
    end: int
    cap: int
    pattern: str


class LogfileStreamReader(DataSourceStreamReader):
    """Partition-parallel streaming reader (see module docstring).

    Offset json: ``{"files": {path: committed_byte_pos}}``.  Committed
    positions are always first-line starts (or a stable-file EOF),
    which is what makes byte-capped re-scans reproduce batches exactly.
    """

    def __init__(self, options):
        self.options = options
        self.resolver = PatternResolver.from_options(options)
        path_spec = options.get("path")
        if not path_spec:
            raise ValueError("logfile-stream source requires a load path")
        self.path_spec = path_spec
        self.tail_stable_batches = int(options.get("tailstablebatches", 2))
        self.encoding = options.get("encoding", "utf-8")
        self.scanner = _scanner_option(options)
        self.max_partition_bytes = int(
            options.get("maxpartitionbytes", DEFAULT_MAX_PARTITION_BYTES)
        )
        self.max_record_bytes = int(options.get("maxrecordbytes", 0))
        # bytes of file tail the driver scans per poll to find the last
        # first-line start (the largest safely-committable offset)
        self.tail_scan_bytes = int(options.get("tailscanbytes", 1 << 20))
        # A file rotated away between partitions() and the executor
        # read would otherwise fail the task forever (the checkpoint
        # replays the same byte range against a file that no longer
        # exists — a wedged stream).  Opt-in, because silently skipping
        # committed-but-unread bytes weakens the exactly-once story;
        # default keeps the strict contract.
        self.ignore_missing = (
            options.get("ignoremissingfiles", "false").lower() == "true"
        )
        self._stable_polls: dict = {}
        self._last_size: dict = {}
        self._last_end: dict = {}

    def _files(self):
        return [p for p in _list_files(self.path_spec) if _tailable(p)]

    def initialOffset(self) -> dict:
        return {"files": {}}

    def _last_record_start(self, path: str, lo: int, hi: int) -> int:
        """Largest first-line start in ``[lo, hi)``, or ``lo`` if none.

        Bounded driver work: scans at most ``tail_scan_bytes`` of the
        file tail.  ``lo`` must be a committed offset (line-aligned);
        a longer jump lands mid-line and realigns with the ``-1`` trick.
        """
        bpat = _first_line_bytes_regex(self.resolver.resolve(path), self.encoding)
        with _open_raw(path) as f:
            if hi - lo <= self.tail_scan_bytes:
                base = lo
                f.seek(base)
            else:
                f.seek(hi - self.tail_scan_bytes - 1)
                f.readline()  # discard partial line: -1 trick
                base = f.tell()
            data = f.read(hi - base)
        # drop the trailing partial line: a truncated line must not
        # spuriously full-match the pattern
        nl = data.rfind(b"\n")
        if nl < 0:
            return lo
        data = data[: nl + 1]
        last = None
        for m in bpat.finditer(data):
            last = m.start()
        return base + last if last is not None else lo

    def latestOffset(self) -> dict:
        ends: dict = {}
        for path in self._files():
            size = _file_size(path)
            if size == self._last_size.get(path):
                self._stable_polls[path] = self._stable_polls.get(path, 0) + 1
            else:
                self._stable_polls[path] = 0
            self._last_size[path] = size
            prev = int(self._last_end.get(path, 0))
            if size <= prev:
                ends[path] = prev  # no growth (or truncation: frozen)
                continue
            if self._stable_polls.get(path, 0) >= self.tail_stable_batches:
                ends[path] = size  # stable: flush the dangling tail
            else:
                # only records whose terminator exists are committable:
                # advance to the LAST first-line start — the tail record
                # past it stays un-consumed until the file stabilizes
                ends[path] = max(prev, self._last_record_start(path, prev, size))
        # vanished (rotated) files keep their frozen offsets
        for path, pos in self._last_end.items():
            ends.setdefault(path, int(pos))
        self._last_end = dict(ends)
        return {"files": ends}

    def partitions(self, start: dict, end: dict) -> List[LogfileStreamPartition]:
        s = start.get("files", {})
        e = end.get("files", {})
        parts: List[LogfileStreamPartition] = []
        for path, end_pos in e.items():
            lo = int(s.get(path, 0))
            hi = int(end_pos)
            if hi <= lo or not _file_exists(path):
                continue
            pattern = self.resolver.resolve(path)
            pos = lo
            while pos < hi:
                sub_end = min(pos + self.max_partition_bytes, hi)
                parts.append(
                    LogfileStreamPartition(path, pos, sub_end, hi, pattern)
                )
                pos = sub_end
        if not parts:
            # an empty micro-batch still needs one (no-op) task
            parts.append(LogfileStreamPartition("", 0, 0, 0, ""))
        return parts

    def read(self, partition: LogfileStreamPartition) -> Iterator:
        if not partition.path or partition.end <= partition.start:
            return
        batches = scan_partition_arrow(
            partition.path,
            partition.start,
            partition.end,
            partition.pattern,
            scanner=self.scanner,
            encoding=self.encoding,
            max_record_bytes=self.max_record_bytes,
            cap=partition.cap,
        )
        try:
            yield from batches
        except FileNotFoundError as exc:
            if not self.ignore_missing:
                raise
            _LOG.warning(
                "logfile-stream: ignoring file rotated away mid-batch %r: %s",
                partition.path,
                exc,
            )

    def commit(self, end: dict) -> None:
        pass


class LogfileStreamDataSource(DataSource):
    """``spark.readStream.format("logfile-stream")`` — see module doc.

    Same options as the batch ``logfile`` source (``pattern``,
    ``pattern.<path>``, ``preset``, ``encoding``, ``maxPartitionBytes``,
    ``maxRecordBytes``, ``scanner``) plus ``tailStableBatches``,
    ``tailScanBytes`` and ``ignoreMissingFiles``.
    """

    @classmethod
    def name(cls) -> str:
        return "logfile-stream"

    def schema(self) -> str:
        return "path string, offset bigint, record string"

    def streamReader(self, schema) -> LogfileStreamReader:
        return LogfileStreamReader(self.options)


def register_logfile_stream_source(spark) -> None:
    spark.dataSource.register(LogfileStreamDataSource)
