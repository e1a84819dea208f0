"""The benchmark's own tests (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import re
import sys
from types import SimpleNamespace

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import bench_spec  # noqa: E402
import corpus  # noqa: E402
import inputs  # noqa: E402
import tail  # noqa: E402
from common import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")

# a small archive keeps these tests fast
SMALL = {"n_files": 4, "seconds_per_file": 3.0}


# -- BENCHMARK.json ------------------------------------------------------------


def test_benchmark_json_shape_and_metric_names():
    with open(bench_spec.SPEC_PATH, "rb") as f:
        raw = f.read()
    assert len(raw) <= 64 * 1024
    spec = json.loads(raw)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert 1 <= len(spec["command"]) <= 32
    for arg in spec["command"]:
        assert len(arg) <= 200 and not arg.startswith("/") and ".." not in arg.split("/")
    assert 1 <= len(spec["paths"]) <= 16
    for p in spec["paths"]:
        assert PATH.match(p) and ".." not in p.split("/") and not p.startswith("/")
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    assert 1 <= len(spec["end_to_end"]) <= 16 and 1 <= len(spec["per_layer"]) <= 128
    names = [w["name"] for w in spec["workloads"]]
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher"), m
        names.append(m["name"])
    bad = [n for n in names if not NAME.match(n)]
    assert not bad
    assert len(names) == len(set(names)), "a name is used twice"
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


# -- deterministic inputs ------------------------------------------------------


def _read_tree(d):
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = inputs.write_archive(str(tmp_path / "a"), 7, **SMALL)
    b = inputs.write_archive(str(tmp_path / "b"), 7, **SMALL)
    c = inputs.write_archive(str(tmp_path / "c"), 8, **SMALL)
    assert a == b
    assert _read_tree(tmp_path / "a") == _read_tree(tmp_path / "b")
    assert _read_tree(tmp_path / "a") != _read_tree(tmp_path / "c")
    # half plain (byte-range splits), half gzipped (one split each)
    names = sorted(a)
    assert sum(n.endswith(".gz") for n in names) == len(names) // 2
    assert inputs.golden_for(7, **SMALL) == inputs.golden_for(7, **SMALL)


def test_golden_replay_agrees_with_the_generator_summary():
    from hadoop_logfile_inputformat_spark.testing import loggen

    golden = inputs.golden_for(7, **SMALL)
    summary = loggen.summarize_log_corpus(seed=7, **SMALL)
    assert golden["by_level"] == summary.by_level
    assert golden["records"] == summary.total


def test_archive_cache_keeps_the_newest(tmp_path, monkeypatch):
    monkeypatch.setattr(inputs, "CACHE_DIR", str(tmp_path))
    dirs = [os.path.dirname(inputs.archive(seed, **SMALL)[0]) for seed in range(5)]
    kept = sorted(os.listdir(tmp_path))
    assert len(kept) == inputs.CACHE_KEEP
    assert os.path.basename(dirs[-1]) in kept
    # a cache hit reads the archive without generating it again
    marker = os.path.join(dirs[-1], "golden.json")
    before = os.stat(marker).st_mtime_ns
    inputs.archive(4, **SMALL)
    assert os.stat(marker).st_mtime_ns == before


def test_tail_records_follow_the_seed():
    def records(seed):
        rng = random.Random(seed)
        return [tail.format_record(i, 1000.0 + i, rng) for i in range(2000)]

    assert records(3) == records(3)
    assert records(3) != records(4)
    assert any("\n\tat " in r for r in records(3))  # multi-line ERROR records occur


# -- correctness checks catch corrupted outputs --------------------------------


@pytest.fixture(scope="module")
def small_archive(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("arch"))
    inputs.write_archive(d, 11, **SMALL)
    return d, inputs.golden_for(11, **SMALL)


def _write_sample(sample_dir, files_dir, golden, parts=3):
    """The sample as Spark's text sink writes it: one value plus a line
    separator per row, spread over part files."""
    os.makedirs(sample_dir, exist_ok=True)
    rows = [f"{os.path.join(files_dir, n)}@{o:016d}:\n\n{t}\n\n" for n, o, t in golden["sample"]]
    for i in range(parts):
        with open(os.path.join(sample_dir, f"part-{i:05d}.txt"), "w") as f:
            f.write("".join(r + "\n" for r in rows[i::parts]))
    open(os.path.join(sample_dir, "_SUCCESS"), "w").close()


def test_sample_check_accepts_the_replay_and_catches_corruption(small_archive, tmp_path):
    files_dir, golden = small_archive
    assert golden["sample"], "the gate samples some records"
    good = str(tmp_path / "good")
    _write_sample(good, files_dir, golden)
    assert inputs.check_sample(good, files_dir, golden) == []

    part = os.path.join(good, "part-00000.txt")
    text = open(part).read()
    open(part, "w").write(text.replace("|", "#", 1))  # one corrupted byte
    assert inputs.check_sample(good, files_dir, golden)

    dropped = str(tmp_path / "dropped")
    _write_sample(dropped, files_dir, golden)
    part = os.path.join(dropped, "part-00001.txt")
    text = open(part).read()
    open(part, "w").write(text.split("\n", 1)[1])  # one lost line
    assert inputs.check_sample(dropped, files_dir, golden)


def test_count_check_catches_wrong_counts(small_archive):
    _, golden = small_archive
    rows = [(*k.split("|"), n, 0) for k, n in golden["counts"].items()]
    rows[0] = (rows[0][0], rows[0][1], rows[0][2], golden["multiline"])
    assert inputs.check_counts(rows, golden) == []
    off_by_one = [(lv, lg, n + (i == 1), m) for i, (lv, lg, n, m) in enumerate(rows)]
    assert inputs.check_counts(off_by_one, golden)
    no_multi = [(lv, lg, n, 0) for lv, lg, n, _ in rows]
    assert inputs.check_counts(no_multi, golden)


def test_exactly_once_check_catches_lost_and_repeated_records():
    assert inputs.check_exactly_once([2, 0, 1], 3) == (0, [])
    assert inputs.check_exactly_once([0, 1], 3)[0] == 1
    assert inputs.check_exactly_once([0, 1, 1, 2], 3)[0] == 1
    assert inputs.check_exactly_once([0, 1, 2, 7], 3)[0] == 1


def test_ann_digest_catches_a_changed_row():
    rows = [SimpleNamespace(query_id=q, neighbor_id=n, sim=0.5 + n / 100, rank=r)
            for q in range(3) for r, n in enumerate(range(4), 1)]
    base = corpus.ann_digest(rows)
    assert corpus.ann_digest(list(reversed(rows))) == base  # order-free
    rows[5] = SimpleNamespace(**{**vars(rows[5]), "sim": rows[5].sim + 1e-6})
    assert corpus.ann_digest(rows) != base


def test_run_fails_without_the_package(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    command exits non-zero and prints no result."""
    import shutil
    import subprocess

    shutil.copy(bench_spec.SPEC_PATH, tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "logs_archive",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
