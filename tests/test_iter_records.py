"""Unit/property tests of the split-boundary record-assembly algorithm.

This is the correctness heart of the engine (SURVEY.md §7.3 #1): sweep
partition boundaries over generated logs and assert the multiset of
(offset, record) is invariant — the property the reference only tested
implicitly at one split size (Test.java:117-152).
"""

import io
import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hadoop_logfile_inputformat_spark.sources.logfile import iter_records

PAT = re.compile(r"^\d{4}-\d{2}-\d{2} .*")


def _read_all(data: bytes, splits):
    """Read [start, end) ranges as independent partitions; concatenate."""
    out = []
    for start, end in splits:
        out.extend(iter_records(io.BytesIO(data), start=start, end=end, regex=PAT))
    return out


def _mk_log(records):
    """records: list of (first_line_body, n_continuations)."""
    lines = []
    for i, (body, ncont) in enumerate(records):
        lines.append(f"2024-01-{(i % 27) + 1:02d} {body}")
        lines.extend(f"\tcont {i}.{j}" for j in range(ncont))
    return ("\n".join(lines) + "\n").encode()


def _splits_of(size: int, n: int):
    """n roughly-equal byte-range splits covering [0, size)."""
    if size == 0:
        return []
    step = max(1, size // n)
    bounds = list(range(0, size, step)) + [size]
    return [(bounds[i], bounds[i + 1]) for i in range(len(bounds) - 1) if bounds[i] < bounds[i + 1]]


def test_single_partition_basic():
    data = _mk_log([("rec one", 0), ("rec two", 2), ("rec three", 1)])
    recs = list(iter_records(io.BytesIO(data), start=0, end=-1, regex=PAT))
    assert len(recs) == 3
    assert recs[0][1] == "2024-01-01 rec one"
    assert recs[1][1].count("\n") == 2
    assert recs[2][0] == data.index(b"2024-01-03")


def test_offsets_point_at_record_starts():
    data = _mk_log([(f"rec {i}", i % 4) for i in range(50)])
    for off, rec in iter_records(io.BytesIO(data), start=0, end=-1, regex=PAT):
        first = rec.split("\n", 1)[0]
        assert data[off:off + len(first.encode())].decode() == first


def test_split_invariance_exhaustive_boundaries():
    """Every possible single split point — includes line starts,
    mid-line, mid-record, inside the final record."""
    data = _mk_log([("alpha", 0), ("beta", 3), ("gamma", 1), ("delta", 0)])
    golden = _read_all(data, [(0, len(data))])
    assert len(golden) == 4
    for cut in range(1, len(data)):
        got = _read_all(data, [(0, cut), (cut, len(data))])
        assert got == golden, f"split at byte {cut} broke record assembly"


def test_leading_garbage_discarded_only_in_later_splits():
    """Lines before the first match at start==0 are dropped (no previous
    split owns them) — matches reference findFirstFirstLine behavior."""
    data = b"no match here\nstill no match\n2024-01-01 first\n\tcont\n"
    recs = list(iter_records(io.BytesIO(data), start=0, end=-1, regex=PAT))
    assert len(recs) == 1
    assert recs[0][0] == data.index(b"2024-01-01")


def test_record_crossing_split_end_owned_by_first_split():
    data = _mk_log([("a", 0), ("b", 5)])
    # cut in the middle of record b's continuations
    cut = data.index(b"\tcont 1.2")
    first = list(iter_records(io.BytesIO(data), start=0, end=cut, regex=PAT))
    second = list(iter_records(io.BytesIO(data), start=cut, end=len(data), regex=PAT))
    assert [r[1].split("\n")[0][11:] for r in first] == ["a", "b"]
    assert first[1][1].count("\n") == 5  # full record, read past end
    assert second == []


def test_first_line_exactly_at_split_start():
    data = _mk_log([("a", 1), ("b", 0), ("c", 0)])
    cut = data.index(b"2024-01-02 b")  # split starts exactly at b's line
    first = _read_all(data, [(0, cut)])
    second = _read_all(data, [(cut, len(data))])
    assert [r[1][11:] for r in second] == ["b", "c"]
    assert [r[1].split("\n")[0][11:] for r in first] == ["a"]


def test_max_record_bytes_truncates_runaway_record():
    body = b"2024-01-01 start\n" + b"x" * 100 + b"\n" + b"y" * 100 + b"\n"
    recs = list(
        iter_records(io.BytesIO(body), start=0, end=-1, regex=PAT, max_record_bytes=50)
    )
    assert len(recs) == 1
    assert "y" not in recs[0][1]  # second continuation dropped by cap


def test_crlf_lines_normalized():
    data = b"2024-01-01 a\r\n\tcont\r\n2024-01-02 b\r\n"
    recs = list(iter_records(io.BytesIO(data), start=0, end=-1, regex=PAT))
    assert [r[1] for r in recs] == ["2024-01-01 a\n\tcont", "2024-01-02 b"]


@settings(max_examples=200, deadline=None)
@given(
    records=st.lists(
        st.tuples(
            st.text(
                alphabet=st.characters(blacklist_characters="\n\r", codec="utf-8"),
                max_size=20,
            ).filter(lambda s: not s.startswith("\t")),
            st.integers(min_value=0, max_value=4),
        ),
        min_size=1,
        max_size=30,
    ),
    n_splits=st.integers(min_value=1, max_value=12),
)
def test_property_split_invariance(records, n_splits):
    data = _mk_log(records)
    golden = _read_all(data, [(0, len(data))])
    assert len(golden) == len(records)
    got = _read_all(data, _splits_of(len(data), n_splits))
    assert got == golden


# ---- chunked scanner (the default read path): must be
# indistinguishable from the line scanner ----

from hadoop_logfile_inputformat_spark.sources.logfile import (
    iter_record_lists_chunked,
)


def _read_all_vectorized(data: bytes, splits, chunk_bytes=1 << 22, cap=0):
    out = []
    for start, end in splits:
        for offsets, records in iter_record_lists_chunked(
            io.BytesIO(data), start=start, end=end, pattern=PAT.pattern,
            chunk_bytes=chunk_bytes, max_record_bytes=cap,
        ):
            out.extend(
                (o, r.decode("utf-8", errors="replace"))
                for o, r in zip(offsets, records)
            )
    return out


@pytest.mark.parametrize("chunk_bytes", [3, 17, 64, 1 << 22])
def test_vectorized_matches_line_scanner_all_cuts(chunk_bytes):
    data = _mk_log([("alpha", 0), ("beta", 3), ("gamma", 1), ("delta", 0)])
    for cut in range(1, len(data)):
        splits = [(0, cut), (cut, len(data))]
        assert _read_all_vectorized(data, splits, chunk_bytes) == _read_all(
            data, splits
        ), f"cut={cut} chunk={chunk_bytes}"


def test_chunked_max_record_bytes_parity():
    body = b"2024-01-01 start\n" + b"x" * 100 + b"\n" + b"y" * 100 + b"\n"
    got = _read_all_vectorized(body, [(0, len(body))], 16, cap=50)
    want = list(
        iter_records(io.BytesIO(body), start=0, end=-1, regex=PAT, max_record_bytes=50)
    )
    assert got == want


def test_vectorized_crlf_and_garbage_parity():
    for data in (
        b"2024-01-01 a\r\n\tcont\r\n2024-01-02 b\r\n",
        b"junk\nmore junk\n2024-01-01 x\n\tc\n",
        b"2024-01-01 only",  # no trailing newline
        b"2024-01-01 a\r\n\tc1\r\n\tc2\r\n",  # CRLF multi-continuation
        b"",
    ):
        assert _read_all_vectorized(data, [(0, len(data))], 8) == _read_all(
            data, [(0, len(data))]
        )


@settings(max_examples=200, deadline=None)
@given(
    records=st.lists(
        st.tuples(
            st.text(
                alphabet=st.characters(blacklist_characters="\n\r", codec="utf-8"),
                max_size=20,
            ).filter(lambda s: not s.startswith("\t")),
            st.integers(min_value=0, max_value=4),
        ),
        min_size=1,
        max_size=30,
    ),
    n_splits=st.integers(min_value=1, max_value=12),
    chunk_bytes=st.sampled_from([5, 23, 128, 4096]),
)
def test_property_vectorized_equals_line(records, n_splits, chunk_bytes):
    data = _mk_log(records)
    splits = _splits_of(len(data), n_splits)
    assert _read_all_vectorized(data, splits, chunk_bytes) == _read_all(data, splits)


@settings(max_examples=150, deadline=None)
@given(
    records=st.lists(
        st.tuples(st.text(alphabet="ab ", max_size=8), st.integers(0, 3)),
        min_size=1,
        max_size=15,
    ),
    eol=st.sampled_from(["\n", "\r\n"]),
    n_splits=st.integers(min_value=1, max_value=8),
    chunk_bytes=st.sampled_from([7, 64, 4096]),
)
def test_property_vectorized_crlf_parity(records, eol, n_splits, chunk_bytes):
    lines = []
    for i, (body, ncont) in enumerate(records):
        lines.append(f"2024-01-{(i % 27) + 1:02d} {body}")
        lines.extend(f"\tcont {i}.{j}" for j in range(ncont))
    data = (eol.join(lines) + eol).encode()
    splits = _splits_of(len(data), n_splits)
    assert _read_all_vectorized(data, splits, chunk_bytes) == _read_all(data, splits)


def test_vectorized_cr_cr_lf_parity_all_cuts():
    """A line body ending in a lone \\r under CRLF ('\\r\\r\\n') must
    survive exactly one normalization: the vectorized scanner's batch
    CR pass used to re-normalize carry-closed/disowned records that
    were already _finalize'd, turning 'a\\r\\ncont' into 'a\\ncont'
    depending on where the chunk/split edge fell (ADVICE r4)."""
    data = b"2024-01-01 a\r\r\ncont\r\n2024-01-02 b\r\r\n\tc\r\n"
    want = _read_all(data, [(0, len(data))])
    # the line scanner strips exactly one trailing \r per line
    assert want[0][1] == "2024-01-01 a\r\ncont"
    for chunk_bytes in (3, 7, 17, 64, 1 << 22):
        for cut in range(1, len(data)):
            splits = [(0, cut), (cut, len(data))]
            assert _read_all_vectorized(data, splits, chunk_bytes) == _read_all(
                data, splits
            ), f"cut={cut} chunk={chunk_bytes}"


@settings(max_examples=250, deadline=None)
@given(
    records=st.lists(
        st.tuples(
            # \r allowed ANYWHERE in bodies (incl. trailing, which under
            # a \n terminator forms the '\r\r\n' ambiguity) — only \n is
            # structural
            st.text(
                alphabet=st.characters(blacklist_characters="\n", codec="utf-8"),
                max_size=12,
            ).filter(lambda s: not s.startswith("\t")),
            st.integers(min_value=0, max_value=4),
        ),
        min_size=1,
        max_size=12,
    ),
    eols=st.lists(st.sampled_from([b"\n", b"\r\n"]), min_size=1, max_size=5),
    n_splits=st.integers(min_value=1, max_value=8),
    chunk_bytes=st.sampled_from([5, 23, 128, 4096]),
)
def test_property_cr_in_bodies_parity(records, eols, n_splits, chunk_bytes):
    data = _mk_log_mixed_eol(records, eols)
    splits = _splits_of(len(data), n_splits)
    want = _read_all(data, splits)
    assert _read_all_vectorized(data, splits, chunk_bytes) == want


@pytest.mark.parametrize(
    "encoding, cap",
    [("latin-1", 0), ("ascii", 0), ("utf-8", 40), ("latin-1", 40), ("ascii", 25)],
)
def test_scan_partition_arrow_encoding_and_cap_parity(tmp_path, encoding, cap):
    """The reader's entry point on the chunked scanner for a non-UTF-8
    encoding (per-record decode: one U+FFFD per non-ASCII byte under
    ascii) and for max_record_bytes > 0 (truncated like the line
    scanner), across split points."""
    from hadoop_logfile_inputformat_spark.sources.logfile import (
        scan_partition_arrow,
    )

    data = (
        "2024-01-01 café\n".encode("utf-8")
        + b"\tcontinuation and " + b"x" * 30 + b"\r\n"
        + b"\t" + b"y" * 40 + b"\n"
        + b"2024-01-02 short\r\n"
        + b"2024-01-03 " + b"z" * 50 + b"\n\tcont\n"
    )
    path = tmp_path / "enc.log"
    path.write_bytes(data)
    for splits in ([(0, len(data))], _splits_of(len(data), 3), _splits_of(len(data), 7)):
        got, want = [], []
        for start, end in splits:
            for batch in scan_partition_arrow(
                str(path), start, end, PAT.pattern,
                encoding=encoding, max_record_bytes=cap,
            ):
                got.extend(zip(batch.column(1).to_pylist(), batch.column(2).to_pylist()))
            want.extend(
                iter_records(
                    io.BytesIO(data), start=start, end=end, regex=PAT,
                    encoding=encoding, max_record_bytes=cap,
                )
            )
        assert got == want, splits
        assert len(got) == 3
    # valid UTF-8 still decodes as ``encoding`` says: 'cafÃ©' under
    # latin-1, 'caf\ufffd\ufffd' under ascii
    assert got[0][1].startswith("2024-01-01 " + "café".encode().decode(encoding, "replace"))
    if cap:  # the cap dropped a continuation line of records 1 and 3
        assert "yyy" not in got[0][1] and "cont" not in got[2][1]


def test_pattern_resolver_exact_case_first():
    """Direct construction keeps original-case keys: case-distinct
    files get distinct patterns, uppercase glob classes match; Spark's
    lowercased option keys still resolve via the fallback pass."""
    from hadoop_logfile_inputformat_spark.sources.logfile import PatternResolver

    r = PatternResolver(None, {"/logs/App.log": "A", "/logs/app.log": "B"})
    assert r.resolve("/logs/App.log") == "A"
    assert r.resolve("/logs/app.log") == "B"
    r2 = PatternResolver(None, {"[A-Z]*.log": "UP", "*.log": "LOW"})
    assert r2.resolve("Svc.log") == "UP"
    assert r2.resolve("svc.log") == "LOW"
    r3 = PatternResolver(None, {"/logs/myapp.log": "P"})
    assert r3.resolve("/logs/MyApp.log") == "P"


def _mk_log_mixed_eol(records, eols):
    """Like _mk_log but each physical line gets its own terminator
    drawn from ``eols`` (cycled): CRLF and LF freely interleaved."""
    lines = []
    for i, (body, ncont) in enumerate(records):
        lines.append(f"2024-01-{(i % 27) + 1:02d} {body}")
        lines.extend(f"\tcont {i}.{j}" for j in range(ncont))
    out = []
    for i, line in enumerate(lines):
        out.append(line.encode() + eols[i % len(eols)])
    return b"".join(out)


@settings(max_examples=300, deadline=None)
@given(
    records=st.lists(
        st.tuples(
            st.text(
                alphabet=st.characters(blacklist_characters="\n\r", codec="utf-8"),
                max_size=12,
            ).filter(lambda s: not s.startswith("\t")),
            st.integers(min_value=0, max_value=5),
        ),
        min_size=1,
        max_size=12,
    ),
    eols=st.lists(
        st.sampled_from([b"\n", b"\r\n"]), min_size=1, max_size=7
    ),
    cap=st.integers(min_value=1, max_value=80),
    n_splits=st.integers(min_value=1, max_value=6),
    chunk_bytes=st.sampled_from([5, 23, 128, 4096]),
)
def test_property_chunked_crlf_cap_parity(records, eols, cap, n_splits, chunk_bytes):
    """CRLF × max_record_bytes interaction (VERDICT r2 #7): the two
    scanners' truncation accounting must agree byte-for-byte — the
    chunked scanner keeps each line's \\r so its +1-per-line accounting
    equals the line scanner's len(raw) — across caps landing anywhere
    relative to line boundaries (middle, chunk-edge and split-closed
    records alike), mixed terminators, split sweeps, and chunk sizes
    that slice mid-CRLF."""
    data = _mk_log_mixed_eol(records, eols)
    splits = _splits_of(len(data), n_splits)
    got = _read_all_vectorized(data, splits, chunk_bytes, cap=cap)
    want = []
    for start, end in splits:
        want.extend(
            iter_records(
                io.BytesIO(data), start=start, end=end, regex=PAT,
                max_record_bytes=cap,
            )
        )
    assert got == want
