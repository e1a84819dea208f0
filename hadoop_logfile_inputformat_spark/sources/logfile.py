"""``logfile`` Python DataSource: multi-line logfile ingestion for Spark.

Spark-native re-statement of the reference Hadoop input format
(reference: LogfileInputFormat.java:46-120, LogfileRecordReader.java:33-346).
Instead of a JVM ``FileInputFormat`` producing ``((Path, Long), Text)``
pairs, this is a PySpark 4.x ``pyspark.sql.datasource.DataSource`` whose
DataFrame schema is::

    path STRING, offset BIGINT, record STRING

Record semantics (parity with the reference, §1.4 of SURVEY.md):

- A *record* is one line fully matching the configured first-line regex
  plus all following non-matching lines, up to (exclusive) the next
  matching line or EOF (LogfileRecordReader.java:293-319).
- ``offset`` is the byte offset of the record's first line within the
  (decompressed) file.  The reference tracks char positions
  (LogfileRecordReader.java:55-61); we use bytes — documented delta.
- Continuation lines are re-joined with ``"\n"`` regardless of the
  writer's terminator.  The reference uses the *reader's* platform
  separator (LogfileRecordReader.java:311); we normalize — documented
  delta.

Split semantics (parity with LogfileInputFormat.java:112-119 and
LogfileRecordReader.java:200-206, 285-291):

- Plain text files are split into byte ranges of ``maxPartitionBytes``
  (default 128 MiB, mirroring Hadoop's split sizing).  A record is owned
  by the split within whose ``[start, end)`` range its first line
  *starts*; the reader of a split seeks to ``start - 1`` and discards
  one (partial) line — the ``-1`` trick of LogfileRecordReader.java:204
  — then skips non-matching lines (:285-291, they belong to the
  previous split's last record) and reads past ``end`` to finish its
  last record (:293-319).
- Compressed files (``.gz``/``.bz2``/``.xz``) are never split: exactly
  one partition per file (LogfileInputFormat.java:112-119).  At 100 TB
  this is the documented skew hazard — prefer many ~128 MB–1 GB gz
  files.  Compressed formats the stdlib cannot decode
  (``.zst``/``.lz4``/``.snappy``/…) are rejected with a hard error
  (parity with LogfileRecordReader.java:163-165) rather than silently
  scanned as plain text.

Pattern configuration (parity with LogfileInputFormat.java:50-101):

- option ``pattern``              — default first-line regex
- option ``pattern.<path|glob>``  — per-path override; resolution order
  is exact path, then basename, then fnmatch glob, then default; a file
  with no resolvable pattern is a hard error (mirrors
  LogfileRecordReader.java:150-154).

Scale design: partition planning happens once on the driver
(``partitions()``); each partition reads with bounded memory (only the
current record is buffered, LogfileRecordReader.java:86-91 parity) and
hands rows to the JVM as Arrow RecordBatches (vectorized transfer).
Path filters are pushed down (``pushFilters``) so Catalyst predicates on
``path`` prune files *before* task launch.
"""

from __future__ import annotations

import bisect
import bz2
import fnmatch
import glob as _glob
import gzip
import hashlib
import io
import json
import logging
import lzma
import os
import re
import zlib
from dataclasses import dataclass
from typing import TYPE_CHECKING, Iterator, List, Sequence, Tuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    InputPartition,
    StringContains,
    StringStartsWith,
)
from pyspark.sql.types import StructType

#: Executor-side skip warnings (tolerant reads) go through here so
#: deployments can attach a handler and audit partial reads; with no
#: handler configured Python's last-resort handler still prints
#: WARNING+ to the executor's stderr.
_LOG = logging.getLogger(__name__)

if TYPE_CHECKING:
    import pyarrow as pa

DEFAULT_MAX_PARTITION_BYTES = 128 * 1024 * 1024
ARROW_BATCH_RECORDS = 4096

#: Scan window of the chunked scanner.  512 KB measured
#: fastest across narrow (63 B) and wide (multi-line stack) records —
#: ~15% over the previous 4 MB on narrow corpora: the window plus its
#: per-chunk slices stay L2/L3-resident, and with 32 concurrent scan
#: tasks per box the smaller footprint also shares cache better.
CHUNK_BYTES = 1 << 19

#: File suffixes that force whole-file (non-split) reads.  Each opener
#: wraps an already-open RAW binary stream (local file or remote fsspec
#: file) in its decompressor — the stdlib openers all accept file
#: objects, which is what lets one code path serve ``/logs`` and
#: ``s3://logs`` alike.
_COMPRESSION_OPENERS = {
    ".gz": gzip.open,
    ".gzip": gzip.open,
    ".bz2": bz2.open,
    ".xz": lzma.open,
    ".lzma": lzma.open,
}

#: Known-compressed suffixes we cannot decode with the stdlib.  Scanning
#: these as plain text would yield silent garbage records; the reference
#: instead fails hard on codecs it cannot handle
#: (LogfileRecordReader.java:163-165) and we mirror that contract.
#: ``.zst``/``.zstd`` move to the supported set at import time when the
#: optional ``zstandard`` package is present.
_UNSUPPORTED_COMPRESSION = (".zst", ".zstd", ".lz4", ".snappy", ".deflate", ".br", ".sz")

try:  # optional dependency: zstd support when the env provides it
    import zstandard as _zstd

    def _zstd_open(fobj):
        # stream_reader handles multi-frame archives; BufferedReader
        # supplies readline/iteration on top of the raw decompressor
        # (compressed partitions start at 0, so no seek is needed)
        return io.BufferedReader(
            _zstd.ZstdDecompressor().stream_reader(fobj, closefd=True)
        )

    _COMPRESSION_OPENERS[".zst"] = _zstd_open
    _COMPRESSION_OPENERS[".zstd"] = _zstd_open
    _UNSUPPORTED_COMPRESSION = tuple(
        s for s in _UNSUPPORTED_COMPRESSION if s not in (".zst", ".zstd")
    )
except ImportError:
    pass


#: Exception types that signal a CORRUPT (truncated / mis-encoded)
#: input file rather than a bug: decompressor CRC/format errors are
#: OSError subclasses (gzip.BadGzipFile) or zlib/lzma-specific types;
#: EOFError is the stdlib's truncated-stream signal.  Used by the
#: ``ignoreCorruptFiles`` option — kept explicit so programming errors
#: never get swallowed.
#:
#: Breadth caveat: OSError also covers TRANSIENT I/O faults
#: (permission denied, NFS/disk hiccups, dropped remote connections),
#: so with ``ignoreCorruptFiles=true`` a transient fault is treated as
#: corruption and the rest of that partition is skipped — a 100 TB run
#: can silently under-read.  This mirrors Spark's own file-source
#: behavior (its ``ignoreCorruptFiles`` catches the equally-broad JVM
#: IOException), and the skip is surfaced as a WARNING through the
#: module logger (``hadoop_logfile_inputformat_spark.sources.logfile``)
#: so executor logs remain auditable; jobs that cannot tolerate
#: under-reads should leave the option off (default) and retry failed
#: tasks instead.
_CORRUPT_ERRORS: tuple = (OSError, EOFError, zlib.error, lzma.LZMAError)
try:
    import zstandard as _zstd_err_mod

    _CORRUPT_ERRORS = _CORRUPT_ERRORS + (_zstd_err_mod.ZstdError,)
except ImportError:
    pass


def _compression_opener(path: str):
    _, ext = os.path.splitext(path)
    ext = ext.lower()
    if ext in _UNSUPPORTED_COMPRESSION:
        raise ValueError(
            f"logfile source: unsupported compression codec '{ext}' for "
            f"'{path}'. Supported: {sorted(_COMPRESSION_OPENERS)} (whole-file) "
            "or uncompressed text. Refusing to scan compressed bytes as "
            "plain text (parity with the reference's hard error, "
            "LogfileRecordReader.java:163-165)."
        )
    return _COMPRESSION_OPENERS.get(ext)


#: ``scheme://`` prefix of a remote path.  Deliberately conservative: a
#: Windows drive letter ("C:\\") or a bare colon never matches, and
#: ``file://`` is handed to fsspec too (its LocalFileSystem strips the
#: scheme), so behavior is uniform for every URL-shaped path.
_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*://")


def _is_remote(path: str) -> bool:
    return _SCHEME_RE.match(path) is not None


def _fsspec_fs(path: str):
    """(filesystem, stripped_path) for a URL-shaped path via fsspec.

    The reference reads through Hadoop's FileSystem abstraction
    (LogfileRecordReader.java:160-176), so ``hdfs://``/``s3://`` inputs
    are first-class there; fsspec is the Python ecosystem's equivalent.
    Optional dependency: a clear ImportError (not a confusing
    FileNotFoundError from ``open()``) when it is missing.
    """
    try:
        import fsspec
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise ImportError(
            f"logfile source: path '{path}' uses a filesystem scheme; "
            "reading remote filesystems requires the optional 'fsspec' "
            "package (plus the scheme's driver, e.g. s3fs, gcsfs, or "
            "pyarrow for hdfs://). Local paths need no extra dependency."
        ) from exc
    return fsspec.core.url_to_fs(path)


def _open_raw(path: str):
    """Open ``path`` (local or ``scheme://``) as a raw binary stream."""
    if _is_remote(path):
        fs, p = _fsspec_fs(path)
        return fs.open(p, "rb")
    return open(path, "rb", buffering=io.DEFAULT_BUFFER_SIZE * 16)


def _file_size(path: str) -> int:
    if _is_remote(path):
        fs, p = _fsspec_fs(path)
        return fs.size(p)
    return os.path.getsize(path)


def _open_stream(path: str):
    """Open ``path`` with transparent whole-file decompression.

    The decode layer (stdlib codecs) is independent of the byte layer
    (local ``open`` / fsspec), so ``s3://logs/app.log.gz`` works with
    the same split semantics as a local gzip file.
    """
    opener = _compression_opener(path)  # raises on unsupported codecs
    raw = _open_raw(path)
    return opener(raw) if opener is not None else raw


@dataclass(frozen=True)
class LogfilePartition(InputPartition):
    """One unit of parallel work: a byte range of one file.

    ``end`` is an exclusive upper bound on *first-line start offsets*
    owned by this partition; the reader may consume bytes past ``end``
    to complete its final record (LogfileRecordReader.java:293-319
    parity). For compressed files ``start == 0`` and ``end`` is +inf
    (represented as -1).
    """

    path: str
    start: int
    end: int  # -1 => unbounded (compressed whole-file partition)
    pattern: str


def iter_records(
    fobj,
    *,
    start: int,
    end: int,
    regex: "re.Pattern[str]",
    encoding: str = "utf-8",
    max_record_bytes: int = 0,
) -> Iterator[Tuple[int, str]]:
    """Yield ``(offset, record_text)`` for every record owned by
    ``[start, end)`` of the byte stream ``fobj``.

    Pure-Python core of the scan operator, kept free of Spark imports so
    the split-boundary algorithm is unit/property-testable in isolation
    (the reference never tested it directly — SURVEY.md §5).

    Ownership rule: a record belongs to this range iff its first line
    starts at ``s`` with ``start <= s < end``.  The ``-1`` seek trick
    (LogfileRecordReader.java:200-206) makes that rule exact even when
    ``start`` lands precisely on a line boundary.  ``end < 0`` means
    unbounded (whole file).

    ``max_record_bytes`` guards against records that never terminate
    (pattern never matches again — the reference buffers unboundedly,
    LogfileRecordReader.java:310-314): when > 0, continuation lines
    beyond the cap are dropped (the record is emitted truncated).
    """
    unbounded = end < 0
    pos = start
    if start > 0:
        fobj.seek(start - 1)
        fobj.readline()  # discard (partial) line; -1 trick
        pos = fobj.tell()

    rec_offset = -1
    rec_parts: List[str] = []
    rec_bytes = 0

    for raw in fobj:
        line_start = pos
        pos += len(raw)
        line = raw.decode(encoding, errors="replace")
        if line.endswith("\n"):
            line = line[:-1]
        if line.endswith("\r"):
            line = line[:-1]

        if regex.fullmatch(line) is not None:
            # full-line match = Java Matcher.matches() parity
            # (LogfileRecordReader.java:272-274)
            # a first line: close any open record
            if rec_offset >= 0:
                yield rec_offset, "\n".join(rec_parts)
                rec_offset = -1
                rec_parts = []
            if not unbounded and line_start >= end:
                # owned by the next split (LogfileRecordReader eos rule)
                return
            rec_offset = line_start
            rec_parts = [line]
            rec_bytes = len(raw)
        elif rec_offset >= 0:
            # continuation line of the open record
            if max_record_bytes <= 0 or rec_bytes < max_record_bytes:
                rec_parts.append(line)
                rec_bytes += len(raw)
        # else: line precedes this split's first record — owned by the
        # previous split (LogfileRecordReader.java:285-291 parity)

    if rec_offset >= 0:
        yield rec_offset, "\n".join(rec_parts)


def _strip_line_crs(data: bytes) -> bytes:
    """Per-line CR strip with exact line-scanner parity.

    The line scanner normalizes each LINE independently: drop the
    ``\\n`` terminator, then EXACTLY ONE trailing ``\\r`` (iter_records
    lines 270-273).  A record-wide ``replace(b"\\r\\n", b"\\n")`` is only
    equivalent when no line BODY ends in ``\\r`` — for ``b"a\\r\\r\\n"``
    it collapses to ``a`` where the line scanner keeps ``a\\r``.  This
    helper is the chunked scanner's normalization; callers gate on
    ``b"\\r" in data`` to keep LF-only input free.
    """
    return b"\n".join(
        line[:-1] if line.endswith(b"\r") else line
        for line in data.split(b"\n")
    )


def _truncate_record_bytes(data: bytes, cap: int) -> bytes:
    """Line-precise truncation parity with the line scanner's
    ``max_record_bytes`` rule: keep appending whole lines while the
    accumulated byte count (incl. newlines) is still under the cap."""
    out: List[bytes] = []
    size = 0
    for i, line in enumerate(data.split(b"\n")):
        if i > 0 and size >= cap:
            break
        out.append(line)
        size += len(line) + 1
    return b"\n".join(out)


def _first_line_bytes_regex(pattern: str, encoding: str) -> "re.Pattern[bytes]":
    """The bytes-mode MULTILINE form of a first-line ``pattern``: one
    match per line that fully matches it (``Matcher.matches()`` parity,
    LogfileRecordReader.java:272-274), with an optional ``\\r`` before
    the terminator.  Shared by the scanner and the stream reader's
    commit point, so both agree on what a first line is."""
    return re.compile(b"(?m)^(?:" + pattern.encode(encoding) + b")\r?$")


def iter_record_lists_chunked(
    fobj,
    *,
    start: int,
    end: int,
    pattern: str,
    encoding: str = "utf-8",
    max_record_bytes: int = 0,
    chunk_bytes: int = CHUNK_BYTES,
) -> Iterator[Tuple[List[int], List[bytes]]]:
    """Chunked twin of :func:`iter_records`: per chunk, ONE
    ``(offsets, records)`` pair instead of one yield per record.

    Same ownership/boundary contract (property-tested against the line
    scanner), but each chunk is scanned with ONE C-level ``finditer``
    over :func:`_first_line_bytes_regex` and the per-record work
    collapses to two list comprehensions over the match spans — no
    generator resumption, branch ladder, or decode per record.  Records
    are returned as BYTES with ``\\r\\n`` normalized and the trailing
    newline stripped; the caller hands them to Arrow, which validates
    UTF-8 wholesale (~10x cheaper than ``bytes.decode`` per record).

    ``max_record_bytes`` > 0 applies the line scanner's runaway-record
    cap (LogfileRecordReader.java:310-314 buffers unboundedly) to each
    record's RAW bytes; a record still open at a chunk edge is capped
    eagerly, so one that never terminates stays bounded in memory.

    Caveat (documented): the pattern is evaluated in bytes mode, so
    ``\\d``/``\\w``/``\\s`` are ASCII-only — correct for machine log
    preambles; pass option ``scanner=line`` for Unicode-class patterns.
    """
    bpat = _first_line_bytes_regex(pattern, encoding)
    unbounded = end < 0
    pos = start
    if start > 0:
        fobj.seek(start - 1)
        fobj.readline()  # discard (partial) line; -1 trick
        pos = fobj.tell()

    base = pos
    tail = b""
    carry: List[bytes] = []  # segments of the record left open at a chunk edge
    carry_start = -1

    def _finalize(data: bytes) -> bytes:
        if max_record_bytes > 0 and len(data) > max_record_bytes:
            data = _truncate_record_bytes(data, max_record_bytes)
        if data.endswith(b"\n"):
            data = data[:-1]
        if b"\r" in data:
            data = _strip_line_crs(data)
        return data

    while True:
        chunk = fobj.read(chunk_bytes)
        eof = not chunk
        data = tail + chunk
        if eof:
            scan, tail = data, b""
        else:
            nl = data.rfind(b"\n")
            if nl < 0:
                tail = data
                continue
            scan, tail = data[: nl + 1], data[nl + 1:]

        starts = [m.start() for m in bpat.finditer(scan)]
        if unbounded:
            n_owned = len(starts)
        else:
            n_owned = bisect.bisect_left(starts, end - base)
        disowned = n_owned < len(starts)

        offsets: List[int] = []
        records: List[bytes] = []
        head = None  # carry-closed record, already _finalize'd
        tail_rec = None  # disowned-closed record, already _finalize'd
        if n_owned:
            s0 = starts[0]
            if carry_start >= 0:
                carry.append(scan[:s0])
                head = (carry_start, _finalize(b"".join(carry)))
                carry, carry_start = [], -1
            # middle records: the byte before a match start is always
            # '\n', so [a:b-1] both slices the record and drops its
            # terminator
            offsets.extend(base + s for s in starts[:n_owned - 1])
            records.extend(
                scan[a:b - 1]
                for a, b in zip(starts[: n_owned - 1], starts[1:n_owned])
            )
            last = starts[n_owned - 1]
            if disowned:
                # a first line at/after ``end`` closes the last owned
                # record; the new record belongs to the next split
                tail_rec = (base + last, _finalize(scan[last:starts[n_owned]]))
            else:
                carry_start = base + last
                carry = [scan[last:]]
        elif carry_start >= 0:
            if disowned:
                carry.append(scan[: starts[0]])
                head = (carry_start, _finalize(b"".join(carry)))
                carry, carry_start = [], -1
            else:
                carry.append(scan)
                if (
                    max_record_bytes > 0
                    and sum(map(len, carry)) > max_record_bytes + chunk_bytes
                ):
                    # eager cap, so a record that never terminates stays
                    # bounded: its kept lines already reach the cap, and
                    # _finalize drops whatever is appended after them
                    carry = [
                        _truncate_record_bytes(b"".join(carry), max_record_bytes)
                        + b"\n"
                    ]
        # else: bytes precede this split's first record — previous
        # split's property (findFirstFirstLine parity)

        if max_record_bytes > 0 and len(scan) > max_record_bytes and records:
            # a middle slice lacks its '\n', so its raw size is len + 1
            records = [
                _truncate_record_bytes(rec, max_record_bytes)
                if len(rec) >= max_record_bytes
                else rec
                for rec in records
            ]
        if b"\r" in scan and records:
            # CR-normalize the RAW middle slices only (head/tail_rec
            # went through _finalize already; normalizing twice would
            # strip a second \r from '\r\r\n' bodies).
            records = [
                _strip_line_crs(rec) if b"\r" in rec else rec
                for rec in records
            ]
        if head is not None:
            offsets.insert(0, head[0])
            records.insert(0, head[1])
        if tail_rec is not None:
            offsets.append(tail_rec[0])
            records.append(tail_rec[1])
        if offsets:
            yield offsets, records
        if disowned:
            return
        base += len(scan)
        if eof:
            if carry_start >= 0:
                yield [carry_start], [_finalize(b"".join(carry))]
            return


class _CappedReader:
    """Wrap a binary file so no byte at or past ``cap`` is ever read.

    Makes scans deterministic against concurrently-appended files: a
    replay of a committed byte range sees exactly the bytes that
    existed when the range was committed, even if the file has since
    grown (the streaming reader's exactly-once contract).  Supports the
    full surface both scanners use: ``read``/``readline``/iteration/
    ``seek``/``tell``/``close``.
    """

    def __init__(self, fobj, cap: int):
        self._f = fobj
        self._cap = cap

    def read(self, n: int = -1) -> bytes:
        remaining = self._cap - self._f.tell()
        if remaining <= 0:
            return b""
        if n is None or n < 0 or n > remaining:
            n = remaining
        return self._f.read(n)

    def readline(self) -> bytes:
        pos = self._f.tell()
        if pos >= self._cap:
            return b""
        line = self._f.readline()
        if pos + len(line) > self._cap:
            line = line[: self._cap - pos]
            self._f.seek(pos + len(line))
        return line

    def __iter__(self):
        return self

    def __next__(self) -> bytes:
        line = self.readline()
        if not line:
            raise StopIteration
        return line

    def seek(self, pos: int) -> int:
        return self._f.seek(pos)

    def tell(self) -> int:
        return self._f.tell()

    def close(self) -> None:
        self._f.close()


def scan_partition_arrow(
    path: str,
    start: int,
    end: int,
    pattern: str,
    *,
    scanner: str = "chunked",
    encoding: str = "utf-8",
    max_record_bytes: int = 0,
    cap: int | None = None,
) -> Iterator["pa.RecordBatch"]:
    """Scan one byte range of one file; yield Arrow batches of
    ``(path, offset, record)``.

    The executor-side core of every logfile read, batch and stream.
    Bounded memory: only the current record plus one Arrow batch of
    assembled records is ever buffered (LogfileRecordReader.java:86-91
    parity, batched for vectorized Python→JVM transfer).  ``cap`` hard-limits reads to ``[0, cap)``
    (see :class:`_CappedReader`).
    """
    import pyarrow as pa

    fobj = _open_stream(path)
    if cap is not None:
        fobj = _CappedReader(fobj, cap)

    arrow_schema = pa.schema(
        [("path", pa.string()), ("offset", pa.int64()), ("record", pa.string())]
    )

    def _batch(offsets, rec_arr):
        return pa.RecordBatch.from_arrays(
            [
                pa.array([path] * len(offsets), pa.string()),
                pa.array(offsets, pa.int64()),
                rec_arr,
            ],
            schema=arrow_schema,
        )

    try:
        if scanner == "line":
            offsets: List[int] = []
            records: List[str] = []
            for offset, record in iter_records(
                fobj,
                start=start,
                end=end,
                regex=re.compile(pattern),
                encoding=encoding,
                max_record_bytes=max_record_bytes,
            ):
                offsets.append(offset)
                records.append(record)
                if len(offsets) >= ARROW_BATCH_RECORDS:
                    yield _batch(offsets, pa.array(records, pa.string()))
                    offsets, records = [], []
            if offsets:
                yield _batch(offsets, pa.array(records, pa.string()))
            return

        # one (offsets, byte-records) pair per chunk; Arrow validates
        # UTF-8 for the whole batch instead of bytes.decode per record
        utf8 = encoding.lower().replace("-", "") == "utf8"
        for offsets, records in iter_record_lists_chunked(
            fobj,
            start=start,
            end=end,
            pattern=pattern,
            encoding=encoding,
            max_record_bytes=max_record_bytes,
        ):
            rec_arr = None
            if utf8:
                try:
                    rec_arr = pa.array(records, pa.string())
                except pa.ArrowInvalid:
                    pass  # invalid UTF-8 somewhere in the batch
            if rec_arr is None:
                # the scanners' errors="replace" contract, per record;
                # every other encoding always decodes here (Arrow would
                # pass valid multi-byte UTF-8 through an 'ascii' read
                # verbatim, where the contract is one U+FFFD per byte)
                rec_arr = pa.array(
                    [r.decode(encoding, errors="replace") for r in records],
                    pa.string(),
                )
            yield _batch(offsets, rec_arr)
    finally:
        fobj.close()


#: Named first-line patterns for common log formats, usable as
#: ``option("preset", "<name>")`` / ``option("preset.<path>", ...)``
#: instead of spelling the regex.  An explicit ``pattern`` option at
#: the same scope wins over a ``preset``.  All formats are public
#: conventions (log4j %d layout, Apache httpd access/error logs,
#: RFC 3164/5424 syslog); continuation lines (stack traces, wrapped
#: messages, pretty-printed JSON bodies) attach to the preceding
#: matching line exactly as with a hand-written pattern.
#: NOTE: first-line matching is whole-line (``Matcher.matches()``
#: parity with the reference), so every preset ends in ``.*``.
PRESET_PATTERNS = {
    # generic ISO date prefix — the reference's documented example
    "iso-datetime": r"\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}.*",
    # log4j/logback default %d{ISO8601}: '2024-01-31 12:34:56,789'
    "log4j": r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3}.*",
    # Apache/nginx access log (common + combined): 'host ident user ['
    "apache-access": r"\S+ \S+ \S+ \[.*",
    # Apache httpd error log: '[Mon Dec 16 01:02:03.456789 2019]'
    "apache-error": r"\[[A-Z][a-z]{2} [A-Z][a-z]{2} ?\d{1,2} .*",
    # BSD syslog (RFC 3164): 'Jan  5 03:04:05 hostname proc[pid]:'
    "syslog": r"[A-Z][a-z]{2} [ 0-9]\d \d{2}:\d{2}:\d{2} .*",
    # RFC 5424 syslog: '<165>1 2024-01-31T12:34:56Z host app ...'
    "syslog-5424": r"<\d{1,3}>\d .*",
    # JSON-lines with pretty-printed continuations: record starts at
    # an unindented '{'
    "json-object": r"\{.*",
}


def resolve_preset(name: str) -> str:
    try:
        return PRESET_PATTERNS[name.strip().lower()]
    except KeyError:
        raise ValueError(
            f"Unknown logfile pattern preset {name!r}. "
            f"Valid presets: {', '.join(sorted(PRESET_PATTERNS))}."
        ) from None


class PatternResolver:
    """Per-path first-line-pattern resolution.

    Parity with LogfileInputFormat.setPattern/getPattern
    (LogfileInputFormat.java:70-101): per-path key first, fall back to
    default, else hard error (LogfileRecordReader.java:150-154).
    Extends the reference with basename and glob matching so one option
    can cover a directory of per-day files.
    """

    def __init__(self, default: str | None, per_path: dict):
        self.default = default
        # Exact-case resolution first: keys kept as given, so two files
        # differing only in case CAN receive distinct patterns and glob
        # character classes with uppercase letters keep matching — when
        # the resolver is built directly (streaming readers, library
        # use).  Spark itself stores data-source option keys
        # case-insensitively (lowercased), so a per-path key for
        # '/logs/App.log' arrives as 'pattern./logs/app.log'; the
        # lowercased index below is the fallback that makes those
        # resolve against mixed-case paths.
        self.per_path = dict(per_path)
        self.per_path_ci = {k.lower(): v for k, v in per_path.items()}

    @classmethod
    def from_options(cls, options) -> "PatternResolver":
        default = options.get("pattern")
        if default is None and options.get("preset") is not None:
            default = resolve_preset(options.get("preset"))
        per_path = {}
        for key in options.keys():
            if key.startswith("preset."):
                # explicit pattern.<same-path> below wins by overwrite
                per_path[key[len("preset."):]] = resolve_preset(options[key])
        for key in options.keys():
            if key.startswith("pattern."):
                per_path[key[len("pattern."):]] = options[key]
        return cls(default, per_path)

    def resolve(self, path: str) -> str:
        # pass 1: exact case (full path, basename, then glob)
        base = os.path.basename(path)
        for cand in (path, base):
            if cand in self.per_path:
                return self.per_path[cand]
        for key, pat in self.per_path.items():
            if fnmatch.fnmatchcase(path, key) or fnmatch.fnmatchcase(base, key):
                return pat
        # pass 2: case-insensitive (Spark's lowercased option keys)
        lpath, lbase = path.lower(), base.lower()
        for cand in (lpath, lbase):
            if cand in self.per_path_ci:
                return self.per_path_ci[cand]
        for key, pat in self.per_path_ci.items():
            if fnmatch.fnmatchcase(lpath, key) or fnmatch.fnmatchcase(lbase, key):
                return pat
        if self.default is not None:
            return self.default
        raise ValueError(
            f"No first-line pattern could be determined for path '{path}'. "
            "Set option 'pattern' (default) or 'pattern.<path>' (override)."
        )


def _list_files(path_spec: str) -> List[str]:
    """Files matching a comma-separated file/dir/glob spec — local or
    ``scheme://`` (via fsspec; names keep their scheme so executors
    re-resolve the same filesystem when opening).  Empty list when
    nothing matches (streaming sources poll before files exist).
    """
    files: List[str] = []
    for spec in path_spec.split(","):
        spec = spec.strip()
        if not spec:
            continue
        if _is_remote(spec):
            fs, p = _fsspec_fs(spec)
            if fs.isdir(p):
                p = p.rstrip("/") + "/*"
            matches = sorted(fs.glob(p))
            if not matches and fs.isfile(p):
                matches = [p]
            files.extend(
                fs.unstrip_protocol(m) for m in matches if fs.isfile(m)
            )
            continue
        if os.path.isdir(spec):
            spec = os.path.join(spec, "*")
        matches = sorted(_glob.glob(spec))
        if not matches and os.path.isfile(spec):
            matches = [spec]
        files.extend(m for m in matches if os.path.isfile(m))
    return files


def _file_exists(path: str) -> bool:
    if _is_remote(path):
        fs, p = _fsspec_fs(path)
        return fs.isfile(p)
    return os.path.exists(path)


def _expand_paths(path_spec: str) -> List[str]:
    """Expand a load() path (file, directory, or glob) to files.

    Comma-separated specs are supported (Hadoop-style multi-path);
    no matches is a hard error (batch-source contract).
    """
    files = _list_files(path_spec)
    if not files:
        raise FileNotFoundError(f"logfile source: no input files match '{path_spec}'")
    return files


def plan_partitions(
    files: Sequence[str],
    resolver: PatternResolver,
    max_partition_bytes: int = DEFAULT_MAX_PARTITION_BYTES,
) -> List[LogfilePartition]:
    """Driver-side split planning (analogue of FileInputFormat.getSplits
    constrained by LogfileInputFormat.isSplitable, java:112-119).

    Plain files become ``ceil(size / max_partition_bytes)`` byte-range
    partitions; compressed files exactly one partition each.
    """
    parts: List[LogfilePartition] = []
    for path in files:
        pattern = resolver.resolve(path)  # fail fast on the driver
        if _compression_opener(path) is not None:
            parts.append(LogfilePartition(path, 0, -1, pattern))
            continue
        size = _file_size(path)
        if size == 0:
            continue
        start = 0
        while start < size:
            end = min(start + max_partition_bytes, size)
            if end >= size:
                end = size  # last split: end == size, reader hits EOF
            parts.append(LogfilePartition(path, start, end, pattern))
            start = end
    return parts


def _scanner_option(options) -> str:
    """The ``scanner`` option of both logfile readers: ``chunked``
    (default) or ``line`` (Unicode-class patterns).  Anything else is a
    hard error, not a silent fall-back to the ~10x slower line scanner."""
    scanner = options.get("scanner", "chunked")
    if scanner not in ("chunked", "line"):
        raise ValueError(f"scanner must be 'chunked' or 'line', got {scanner!r}")
    return scanner


class LogfileReader(DataSourceReader):
    def __init__(self, schema: StructType, options):
        self.schema = schema
        self.options = options
        self.resolver = PatternResolver.from_options(options)
        self.max_partition_bytes = int(
            options.get("maxpartitionbytes", DEFAULT_MAX_PARTITION_BYTES)
        )
        self.max_record_bytes = int(options.get("maxrecordbytes", 0))
        self.encoding = options.get("encoding", "utf-8")
        self.scanner = _scanner_option(options)
        # Spark-native file-source semantics (spark.sql.files.*), as
        # per-source options: a 100 TB scan must survive one truncated
        # .gz (rows read so far are kept, the rest of the file is
        # skipped) or a file deleted between planning and read.
        self.ignore_corrupt = (
            options.get("ignorecorruptfiles", "false").lower() == "true"
        )
        self.ignore_missing = (
            options.get("ignoremissingfiles", "false").lower() == "true"
        )
        path_spec = options.get("path")
        if not path_spec:
            raise ValueError("logfile source requires a load path")
        self.files = _expand_paths(path_spec)

    def pushFilters(self, filters: List[Filter]) -> Iterator[Filter]:
        """Prune the file list from ``path`` predicates before planning.

        Accepted (fully handled here, because each partition holds rows
        of exactly one path): EqualTo/StartsWith/Contains on ``path``.
        Everything else is returned for Spark to evaluate post-scan.
        """
        for f in filters:
            handled = False
            col = getattr(f, "attribute", None)
            if col == ("path",):
                if isinstance(f, EqualTo):
                    self.files = [p for p in self.files if p == f.value]
                    handled = True
                elif isinstance(f, StringStartsWith):
                    self.files = [p for p in self.files if p.startswith(f.value)]
                    handled = True
                elif isinstance(f, StringContains):
                    self.files = [p for p in self.files if f.value in p]
                    handled = True
            if not handled:
                yield f

    def partitions(self) -> List[LogfilePartition]:
        return plan_partitions(self.files, self.resolver, self.max_partition_bytes)

    def read(self, partition: LogfilePartition) -> Iterator["pa.RecordBatch"]:
        """Stream one split; yield Arrow batches of (path, offset, record).

        Delegates to :func:`scan_partition_arrow` (shared with the
        partitioned streaming reader).
        """
        if partition is None:
            # pushFilters pruned every file: partitions() returned [],
            # and Spark falls back to one None partition — emit nothing.
            return
        batches = scan_partition_arrow(
            partition.path,
            partition.start,
            partition.end,
            partition.pattern,
            scanner=self.scanner,
            encoding=self.encoding,
            max_record_bytes=self.max_record_bytes,
        )
        # Tolerant mode, matching Spark's file-source semantics: a
        # missing file contributes nothing; a corrupt file keeps the
        # rows already decoded (errors from a consumed generator
        # propagate at the yield point, so batches before the failure
        # are already out) and skips the rest of THIS partition only.
        # Errors stay typed (_CORRUPT_ERRORS) so genuine bugs (pattern
        # errors, programming faults) still fail the task.
        try:
            yield from batches
        except FileNotFoundError as exc:
            if not self.ignore_missing:
                raise
            _LOG.warning(
                "logfile source: ignoring missing file %r: %s",
                partition.path,
                exc,
            )
        except _CORRUPT_ERRORS as exc:
            if not self.ignore_corrupt:
                raise
            # WARNING through the module logger (not a bare print):
            # Python's last-resort handler still lands it on executor
            # stderr, and deployments can attach a handler to audit
            # partial reads — see the _CORRUPT_ERRORS breadth caveat.
            _LOG.warning(
                "logfile source: ignoring corrupt file %r after partial "
                "read: %s",
                partition.path,
                exc,
            )


class LogfileDataSource(DataSource):
    """``spark.read.format("logfile")`` — see module docstring.

    Usage::

        register_logfile_source(spark)
        df = (spark.read.format("logfile")
              .option("pattern", r"^\\d{4}-\\d{2}-\\d{2} .*")
              .load("/logs/*.log"))
    """

    @classmethod
    def name(cls) -> str:
        return "logfile"

    def schema(self) -> str:
        return "path string, offset bigint, record string"

    def reader(self, schema: StructType) -> LogfileReader:
        return LogfileReader(schema, self.options)


def observe_scan(df, name: str = "logfile_scan"):
    """Attach scan-progress metrics to a logfile read — the Spark
    analogue of ``RecordReader.getProgress`` (S7f).

    The reference reports a per-split consumed-byte fraction
    (LogfileRecordReader.java:332-336) that Hadoop polls while the task
    runs.  Spark's idiom for the same observability is an *observed
    metric* on the scan: the aggregates below are computed inside the
    same whole-stage pipeline as the read (zero extra pass over the
    data) and surface through ``Observation.get`` after any action, the
    live UI, and every registered ``QueryExecutionListener``/streaming
    progress event as tasks complete.

    Returns ``(observed_df, observation)``; after an action on
    ``observed_df``, ``observation.get`` holds::

        n_records    rows emitted by the source
        record_bytes UTF-8 payload bytes of the assembled records
                     (record bodies only — newlines between splits and
                     any replaced invalid bytes are not counted)
        n_files      approx distinct input paths seen (HLL, exact at
                     fixture scale; approximate by design at 100 TB —
                     observed metrics disallow DISTINCT aggregates)
        max_offset   highest record start offset scanned
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    observed = df.observe(obs, *_scan_metric_exprs())
    return observed, obs


def _scan_metric_exprs():
    """The shared observed-metric aggregates of :func:`observe_scan` /
    :func:`observe_scan_stream` (see observe_scan's docstring for the
    per-metric semantics)."""
    from pyspark.sql import functions as F

    return [
        F.count(F.lit(1)).alias("n_records"),
        F.coalesce(F.sum(F.octet_length("record")), F.lit(0)).alias(
            "record_bytes"
        ),
        F.approx_count_distinct("path").alias("n_files"),
        F.max("offset").alias("max_offset"),
    ]


def observe_scan_stream(df, name: str = "logfile_scan"):
    """Streaming twin of :func:`observe_scan`: attach the same scan
    metrics to a STREAMING logfile read, surfaced per micro-batch.

    ``Observation`` objects are batch-only, so streams use the
    named-observe form: after each micro-batch the metrics row appears
    in ``StreamingQueryProgress.observedMetrics[name]`` (``n_records``,
    ``record_bytes``, ``n_files``, ``max_offset`` — per BATCH, not
    cumulative), which is exactly the poll-while-running surface the
    reference's ``RecordReader.getProgress``
    (LogfileRecordReader.java:332-337) gives Hadoop: progress numbers
    for work in flight, at zero extra passes over the data.

    Returns the observed DataFrame; start a sink on it and read
    ``query.lastProgress["observedMetrics"][name]``.
    """
    return df.observe(name, *_scan_metric_exprs())


def register_logfile_source(spark) -> None:
    """Register the ``logfile`` format on a SparkSession (idempotent).

    Also enables ``spark.sql.python.filterPushdown.enabled``: Spark 4.1
    refuses to even initialize a Python DataSource reader that implements
    ``pushFilters`` unless this conf is set, failing every read with
    ``[DATA_SOURCE_PUSHDOWN_DISABLED]``. The conf is runtime-settable, so
    flipping it here makes the source work on any vanilla session —
    mirroring the reference's "works with just a Configuration" contract
    (README.md:59-64).
    """
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(LogfileDataSource)


def _open_staged_out(path: str):
    """Open ``path + '.inflight'`` for binary write (local or fsspec
    remote), creating parent dirs.  Returns ``(fileobj, finalize,
    discard)``: ``finalize()`` atomically renames into place,
    ``discard()`` best-effort removes the inflight file."""
    tmp = path + ".inflight"
    if _is_remote(path):
        fs, p = _fsspec_fs(tmp)
        fs.makedirs(os.path.dirname(p), exist_ok=True)
        out = fs.open(p, "wb")

        def finalize():
            _, pd = _fsspec_fs(path)
            fs.mv(p, pd)

        def discard():
            try:
                fs.rm(p)
            except OSError:
                pass
    else:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        out = open(tmp, "wb")

        def finalize():
            os.replace(tmp, path)

        def discard():
            try:
                os.remove(tmp)
            except OSError:
                pass

    return out, finalize, discard


def _read_staged_text(path: str) -> str:
    if _is_remote(path):
        fs, p = _fsspec_fs(path)
        with fs.open(p, "rb") as fh:
            return fh.read().decode("utf-8")
    with open(path, "rb") as fh:
        return fh.read().decode("utf-8")


def _validate_parts_manifest(
    manifest: str,
    dst: str,
    chunk_bytes: int,
    pattern: str,
) -> List[str] | None:
    """Decide whether an existing ``.parts`` manifest may be REUSED:
    returns the part paths when (a) its header records the same
    ``chunk_bytes``/``pattern`` this call asked for (a different
    layout must re-cut, not silently keep the old one — headerless
    manifests from older runs fail this too) and (b) every listed part
    still exists (the docstring invites downstream to delete parts as
    consumed; handing back paths to deleted files would be worse than
    re-staging).  None means re-stage.  A header-valid manifest with
    ZERO listed parts is a legitimate layout (an empty source stream
    cuts no parts) and is reused as ``[]`` — returning None there
    would re-run the decompression pass on every call (r12 ADVICE
    fix).  Cost: one manifest read plus one existence probe per part —
    driver-side metadata, cheap next to the decompression pass it
    might save.

    MANIFEST FORMAT NOTE (bumped r11): line 1 is a JSON header
    ``{"chunk_bytes": N, "pattern": "..."}``; the part basenames
    follow one per line.  Pre-r11 manifests are headerless (basenames
    only) and fail the header parse here → re-staged once, after which
    the dir is current-format.  Do NOT read a current-format manifest
    with pre-r11 code in a MIXED-VERSION staging dir: the old reader
    would treat the JSON header line as a part filename."""
    lines = _read_staged_text(manifest).splitlines()
    if not lines:
        return None
    try:
        header = json.loads(lines[0])
    except ValueError:
        return None  # legacy headerless manifest: parameters unknown
    if not isinstance(header, dict):
        return None
    if header.get("chunk_bytes") != chunk_bytes or header.get(
        "pattern"
    ) != pattern:
        return None
    paths = [f"{os.path.dirname(dst)}/{n}" for n in lines[1:] if n]
    if not all(_file_exists(p) for p in paths):
        return None
    return paths  # may be []: header-valid zero-part layout, reusable


def _stage_one(
    src: str,
    dst: str,
    chunk_bytes: int | None = None,
    pattern: str | None = None,
) -> List[str]:
    """Decompress ``src`` into splittable plain staging as a streamed
    pass (constant memory — a 'giant gzip' is the whole point) and
    return the staged path(s).

    ``chunk_bytes=None``: one plain file at ``dst`` (atomic: written to
    a ``.inflight`` sibling and renamed, so a killed task never leaves
    a half-staged file that a re-read would silently truncate).

    With ``chunk_bytes``, the stream splits into ``dst.partNNNN`` files
    of ≈``chunk_bytes`` during the SAME single pass, cutting ONLY where
    the next line fullmatches ``pattern`` (the scanner's
    Matcher.matches() parity rule) — so no multi-line record ever spans
    two part files and a per-file read reassembles records identically.
    Each part renames atomically; a ``dst.parts`` manifest (basenames,
    one per line) lands LAST, so a crashed run is re-staged rather than
    half-reused.  Chunking bounds BOTH hazards of whole-file staging:
    no single staged file inherits the source's full decompressed size
    (a 500 GB day-roll stages to ~4000 × 128 MB parts), and downstream
    can delete parts as consumed instead of holding the whole blow-up
    on disk.
    """
    if chunk_bytes is None:
        out, finalize, discard = _open_staged_out(dst)
        try:
            with out, _open_stream(src) as inp:
                while True:
                    chunk = inp.read(1 << 22)
                    if not chunk:
                        break
                    out.write(chunk)
            finalize()
        except BaseException:
            discard()
            raise
        return [dst]

    first = re.compile(pattern)

    def _is_first(raw: bytes) -> bool:
        line = raw.decode("utf-8", errors="replace")
        if line.endswith("\n"):
            line = line[:-1]
        if line.endswith("\r"):
            line = line[:-1]
        return first.fullmatch(line) is not None

    parts: List[str] = []
    cur = cur_fin = cur_disc = None
    cur_n = 0
    try:
        with _open_stream(src) as inp:
            for raw in inp:
                if cur is not None and cur_n >= chunk_bytes and _is_first(raw):
                    cur.close()
                    cur_fin()
                    cur = None
                if cur is None:
                    path = f"{dst}.part{len(parts):04d}"
                    cur, cur_fin, cur_disc = _open_staged_out(path)
                    parts.append(path)
                    cur_n = 0
                cur.write(raw)
                cur_n += len(raw)
        if cur is not None:
            cur.close()
            cur_fin()
            cur = None
    except BaseException:
        if cur is not None:
            cur.close()
            cur_disc()
        raise
    mout, mfin, mdisc = _open_staged_out(dst + ".parts")
    try:
        with mout:
            # header records the parameters this layout was cut with:
            # a reuse under different chunk_bytes/pattern must re-stage,
            # not silently keep the old cuts (see stage_decompress)
            header = json.dumps(
                {"chunk_bytes": chunk_bytes, "pattern": pattern}
            )
            body = "\n".join(os.path.basename(p) for p in parts)
            mout.write(f"{header}\n{body}".encode("utf-8"))
        mfin()
    except BaseException:
        mdisc()
        raise
    return parts


class StagedPaths(List[str]):
    """What :func:`stage_decompress` returns: a plain list of the paths
    to read (drop-in for any path list), plus ``sources`` — the
    ``{source path: [staged path, ...]}`` mapping.  Staging strips the
    compression suffix from the basename (``app.log.gz`` →
    ``app.log``), so a per-path option registered under the COMPRESSED
    name (``pattern.app.log.gz``) will not match the staged copy;
    callers re-key such options from this mapping (or register them
    under the decompressed basename / a glob to begin with)."""

    sources: dict


def stage_decompress(
    spark,
    path_spec: str,
    staging_dir: str,
    overwrite: bool = False,
    chunk_bytes: int | None = None,
    pattern: str | None = None,
) -> StagedPaths:
    """Pre-pass for GIANT non-splittable compressed logs: decompress
    each matching ``.gz``/``.bz2``/``.xz``/… once into splittable
    plain-text staging, returning the paths to read instead (a
    :class:`StagedPaths` — a list, with the source→staged ``sources``
    mapping attached for per-path pattern re-keying).

    The source treats EVERY compressed file as one split (stricter
    than the reference: LogfileInputFormat.java:112-119 returns
    isSplitable == false for non-splittable codecs like gzip, but true
    for SplittableCompressionCodec implementations such as bzip2 —
    this implementation pins one task per compressed file for all
    codecs): one 500 GB ``.gz`` day-roll is ONE task for the whole job
    — the single most common real-world ingestion skew.  This helper
    is the documented mitigation: pay one linear decompression pass
    (distributed one-task-per-file), then every downstream read
    byte-range-splits the staged plain copy across the cluster.  Worth
    it whenever the corpus is read more than once, or read once by a
    job whose other inputs would otherwise idle behind the gzip
    straggler.

    **Storage shape**: plain text runs ~3-8× the compressed bytes (a
    100 TB gzipped corpus stages to ~300-800 TB of plain text) — size
    the staging filesystem for that blow-up, and prefer ``chunk_bytes``
    so the cost can be bounded: with ``chunk_bytes`` set (e.g.
    ``128 << 20``) each stream splits into ``≈chunk_bytes`` part files
    DURING the same single pass, cutting only at record boundaries
    (``pattern`` required: a cut is placed where the next line
    fullmatches it, the scanner's own first-line rule — so no
    multi-line record spans two parts and reads reassemble records
    identically).  Chunking caps the per-file size (no staged file
    inherits the source's full decompressed size) AND lets downstream
    delete parts as consumed instead of holding the whole blow-up on
    disk.

    Layout: each compressed file stages to
    ``{staging_dir}/{md5(src)[:10]}/{basename-minus-suffix}`` (plus
    ``.partNNNN`` suffixes when chunked) — the hash directory makes
    same-named files from different source dirs collision-free while
    preserving the DECOMPRESSED basename.  Per-path pattern options
    must therefore be keyed by the decompressed basename (or a glob
    such as ``pattern.app.log*``, which also covers chunk parts); an
    option registered under the compressed name stops matching — use
    the returned ``sources`` mapping to re-key.  Already-splittable
    inputs pass through UNstaged (their original path is returned), so
    a mixed plain+gz directory stages only what needs it.  Idempotent:
    an existing staged copy is reused unless ``overwrite=True`` (part
    writes are atomic renames and the chunk manifest lands last, so a
    crashed run is re-staged, never half-reused; chunked reuse also
    verifies the manifest was cut with the SAME chunk_bytes/pattern
    and that every listed part still exists — a changed layout or a
    part deleted by a consumer re-stages instead of returning stale
    or dangling paths).  Unsupported codecs
    (``.zst`` without zstandard, ``.lz4``, …) fail hard on the driver
    — same contract as the read path.

    ``staging_dir`` may be local or ``scheme://`` remote (fsspec);
    decompression runs on the EXECUTORS (one Spark task per file —
    linear in total compressed bytes, no shuffle), so on a real
    cluster the staging filesystem must be shared (HDFS/S3/NFS).
    """
    if chunk_bytes is not None and pattern is None:
        raise ValueError(
            "chunk_bytes requires pattern: chunk cuts must land on "
            "record boundaries (the first-line rule), or a multi-line "
            "record spanning two parts would silently lose its tail"
        )
    files = _expand_paths(path_spec)
    mapping: dict = {}
    work: List[tuple] = []
    for src in files:
        if _compression_opener(src) is None:  # raises on unsupported
            mapping[src] = [src]
            continue
        base = os.path.splitext(os.path.basename(src))[0]
        tag = hashlib.md5(src.encode("utf-8")).hexdigest()[:10]
        sep = "" if staging_dir.endswith("/") else "/"
        dst = f"{staging_dir}{sep}{tag}/{base}"
        if chunk_bytes is None:
            mapping[src] = [dst]
            if overwrite or not _file_exists(dst):
                work.append((src, dst, None, None))
        else:
            manifest = dst + ".parts"
            reuse = None
            if not overwrite and _file_exists(manifest):
                reuse = _validate_parts_manifest(
                    manifest, dst, chunk_bytes, pattern
                )
            if reuse is not None:
                mapping[src] = reuse
            else:
                mapping[src] = None  # filled from the staging result
                work.append((src, dst, chunk_bytes, pattern))
    if work:
        sc = spark.sparkContext
        staged = sc.parallelize(work, len(work)).map(
            lambda sd: (sd[0], _stage_one(sd[0], sd[1], sd[2], sd[3]))
        ).collect()
        for src, paths in staged:
            mapping[src] = paths
    out = StagedPaths(p for src in files for p in mapping[src])
    out.sources = mapping
    return out
