"""Deterministic benchmark inputs and the golden values their outputs
are checked against.

The log archive is generated from the seed with the package's own
generator (``testing.loggen``), in the exact RNG draw order of
``write_log_corpus``, so the generator's own replay
(``replay_log_corpus_records``) is the golden reference.  Even days
are written plain (byte-range splits), odd days gzipped (one split
each).  Archives are cached under ``.perfbench_cache`` by seed and
size; ``golden.json`` is written last and marks a complete archive.
"""

from __future__ import annotations

import concurrent.futures
import gzip
import hashlib
import json
import multiprocessing
import os
import random
import zlib
from datetime import datetime, timedelta

from common import CACHE_DIR, DATA_DIR

#: Archive size: 6 daily files = 3 plain + 3 gzipped, two full waves on
#: the 3 task slots; 864,000 records, about 80 MB uncompressed (see
#: README.md, "Archive sizing").
ARCHIVE_FILES = 6
ARCHIVE_SECONDS_PER_FILE = 720.0
#: generated archives kept in the cache; older ones are removed
CACHE_KEEP = 3

#: Sample gate of the archive's Sample.java-style driver: a record is
#: sampled when the CRC-32 of its UTF-8 text is divisible by this.
SAMPLE_MOD = 64

LEVELS = ("INFO", "WARN", "ERROR")

#: corpus_curate reads these fixed sf0.1 tables, with these digests
CORPUS_TABLES = {
    "documents.parquet": "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82",
    "embeddings.parquet": "f5a6fe8c86ce87190f685e5d246b3e544155aa147a7f47af7d32bb6d8ebe0a95",
}


def _base() -> datetime:
    return datetime(2024, 1, 1)


def archive_names(n_files: int = ARCHIVE_FILES) -> list:
    """File names of the archive, in day order."""
    out = []
    for day in range(n_files):
        name = f"app_{_base() + timedelta(days=day):%Y-%m-%d}.log"
        out.append(name + (".gz" if day % 2 else ""))
    return out


def write_archive(
    out_dir: str,
    seed: int,
    n_files: int = ARCHIVE_FILES,
    seconds_per_file: float = ARCHIVE_SECONDS_PER_FILE,
) -> dict:
    """Write the archive's files; returns ``{name: layout}``."""
    from hadoop_logfile_inputformat_spark.testing import loggen

    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    layouts = {}
    for day, name in enumerate(archive_names(n_files)):
        fmt = "AB"[rng.randrange(2)]
        start = _base() + timedelta(days=day)
        chunks: list = []
        loggen.generate_log_records(
            fmt, start, start + timedelta(seconds=seconds_per_file), chunks.append, rng
        )
        data = "".join(chunks).encode("utf-8")
        path = os.path.join(out_dir, name)
        with open(path, "wb") as raw:
            if name.endswith(".gz"):
                # mtime=0: byte-identical output for the same seed
                with gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as zf:
                    zf.write(data)
            else:
                raw.write(data)
        layouts[name] = fmt
    return layouts


def golden_for(
    seed: int,
    n_files: int = ARCHIVE_FILES,
    seconds_per_file: float = ARCHIVE_SECONDS_PER_FILE,
) -> dict:
    """Golden values from the generator's replay, with no file IO and
    no scanner involved."""
    from hadoop_logfile_inputformat_spark.testing import loggen

    records = loggen.replay_log_corpus_records(
        n_files=n_files, seconds_per_file=seconds_per_file, seed=seed
    )
    names = {n.replace(".gz", ""): n for n in archive_names(n_files)}
    counts: dict = {}
    multiline = record_bytes = 0
    sample = []
    for fname, offset, text in records:
        first = text.split("\n", 1)[0].split(" | ", 3)
        level = first[1] if first[1] in LEVELS else first[0]
        key = f"{level}|{first[2]}"
        counts[key] = counts.get(key, 0) + 1
        multiline += "\n" in text
        raw = text.encode("utf-8")
        record_bytes += len(raw)
        if zlib.crc32(raw) % SAMPLE_MOD == 0:
            sample.append([names[fname], offset, text])
    by_level = {lv: 0 for lv in LEVELS}
    for key, n in counts.items():
        by_level[key.split("|")[0]] += n
    return {
        "seed": seed,
        "n_files": n_files,
        "seconds_per_file": seconds_per_file,
        "records": len(records),
        "record_bytes": record_bytes,
        "multiline": multiline,
        "by_level": by_level,
        "counts": counts,
        "sample": sample,
    }


def archive(
    seed: int,
    n_files: int = ARCHIVE_FILES,
    seconds_per_file: float = ARCHIVE_SECONDS_PER_FILE,
) -> tuple:
    """``(archive dir, golden values)``, generating on a cache miss."""
    d = os.path.join(CACHE_DIR, f"archive-s{seed}-f{n_files}-t{seconds_per_file:g}")
    marker = os.path.join(d, "golden.json")
    if not os.path.exists(marker):
        files = os.path.join(d, "files")
        spawn = multiprocessing.get_context("spawn")
        with concurrent.futures.ProcessPoolExecutor(1, mp_context=spawn) as pool:
            # the replay shares nothing with the write, so they run side by side
            replay = pool.submit(golden_for, seed, n_files, seconds_per_file)
            layouts = write_archive(files, seed, n_files, seconds_per_file)
            golden = replay.result()
        golden["layouts"] = layouts
        golden["sizes"] = {n: os.path.getsize(os.path.join(files, n)) for n in layouts}
        # every record is written followed by one newline
        golden["uncompressed_bytes"] = golden["record_bytes"] + golden["records"]
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            json.dump(golden, f)
        os.replace(tmp, marker)
        _prune_cache(keep=d)
    with open(marker) as f:
        golden = json.load(f)
    return os.path.join(d, "files"), golden


def _prune_cache(keep: str) -> None:
    """Remove all but the ``CACHE_KEEP`` newest archives (``keep`` stays)."""
    import shutil

    found = sorted(
        (os.path.join(CACHE_DIR, n) for n in os.listdir(CACHE_DIR) if n.startswith("archive-")),
        key=os.path.getmtime,
        reverse=True,
    )
    for d in [d for d in found if d != keep][CACHE_KEEP - 1:]:
        shutil.rmtree(d, ignore_errors=True)


def verify_archive(files_dir: str, golden: dict) -> None:
    """The inputs are present with the sizes they were generated at."""
    for name, size in golden["sizes"].items():
        path = os.path.join(files_dir, name)
        if os.path.getsize(path) != size:
            raise RuntimeError(f"archive file {path} changed size")


def pattern_options(layouts: dict) -> dict:
    """Per-file first-line patterns (Test.java's per-path registration)."""
    from hadoop_logfile_inputformat_spark.testing import loggen

    pats = {"A": loggen.FORMAT_A, "B": loggen.FORMAT_B}
    return {f"pattern.{name}": pats[fmt] for name, fmt in layouts.items()}


# -- checks ----------------------------------------------------------------


def check_counts(rows, golden: dict) -> list:
    """``rows``: (level, logger, n, n_multiline).  Returns problems."""
    got: dict = {}
    multiline = 0
    for level, logger, n, n_multi in rows:
        got[f"{level}|{logger}"] = n
        multiline += n_multi
    problems = []
    if got != golden["counts"]:
        problems.append(f"level/logger counts differ: {got} != {golden['counts']}")
    if multiline != golden["multiline"]:
        problems.append(f"multi-line records {multiline} != {golden['multiline']}")
    return problems


def _lines_digest(lines) -> tuple:
    h = hashlib.sha256()
    n = 0
    for line in sorted(lines):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
        n += 1
    return n, h.hexdigest()


def expected_sample(files_dir: str, golden: dict) -> tuple:
    """(line count, digest) the sample sink must hold: each sampled
    record as ``format_record_lines`` renders it, one text row each."""
    lines = []
    for name, offset, text in golden["sample"]:
        value = f"{os.path.join(files_dir, name)}@{offset:016d}:\n\n{text}\n\n"
        lines.extend(value.split("\n"))
    return _lines_digest(lines)


def written_sample(sample_dir: str) -> tuple:
    """(line count, digest) of the text files a sample sink wrote."""
    lines = []
    for name in sorted(os.listdir(sample_dir)):
        if name.startswith(("_", ".")):
            continue
        with open(os.path.join(sample_dir, name), encoding="utf-8") as f:
            content = f.read()
        if not content:
            continue
        if not content.endswith("\n"):
            lines.append("<missing final newline>")
            content += "\n"
        # every row is its value plus one line separator
        lines.extend(content[:-1].split("\n"))
    return _lines_digest(lines)


def check_sample(sample_dir: str, files_dir: str, golden: dict) -> list:
    want = expected_sample(files_dir, golden)
    got = written_sample(sample_dir)
    return [] if got == want else [f"sample (lines, sha256) {got} != {want}"]


def check_exactly_once(committed_seqs, n_generated: int) -> tuple:
    """Every generated record ``0..n-1`` committed exactly once.
    Returns ``(records failed, problems)``."""
    seen: dict = {}
    for s in committed_seqs:
        seen[s] = seen.get(s, 0) + 1
    missing = sum(1 for s in range(n_generated) if s not in seen)
    dup = sum(c - 1 for c in seen.values() if c > 1)
    extra = sum(1 for s in seen if not 0 <= s < n_generated)
    bad = missing + dup + extra
    if bad:
        return bad, [f"{missing} missing, {dup} duplicate, {extra} unknown records"]
    return 0, []


def sha256_file(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def verify_corpus_tables() -> str:
    """The fixed corpus tables are present and unchanged; returns their
    directory."""
    for name, digest in CORPUS_TABLES.items():
        got = sha256_file(os.path.join(DATA_DIR, name))
        if got != digest:
            raise RuntimeError(f"corpus table {name}: sha256 {got} != {digest}")
    return DATA_DIR
