"""bench.py's detail-file choice: a run below the host's core count (a
scaling sample) never creates or advances a round detail file."""

from __future__ import annotations

import os

from bench import bench_detail_path


def _repo(tmp_path, rounds, details):
    for n in rounds:
        (tmp_path / f"BENCH_r{n}.json").write_text("{}")
    (tmp_path / "reports").mkdir()
    for n in details:
        (tmp_path / "reports" / f"bench_r{n}_detail.json").write_text("{}")
    return str(tmp_path)


def _name(path):
    return os.path.relpath(path, os.path.dirname(os.path.dirname(path)))


def test_sub_core_run_writes_no_round_file(tmp_path):
    repo = _repo(tmp_path, rounds=(15, 16), details=(15, 16))
    # a full-core run opens the next round; SPARK_GRAFT_CPUS=2 on a
    # 4-core affinity is a scaling sample of the newest benched round
    assert _name(bench_detail_path(repo, 4, 4)) == "reports/bench_r17_detail.json"
    assert _name(bench_detail_path(repo, 2, 4)) == "reports/bench_r16_c2_detail.json"
    assert _name(bench_detail_path(repo, 2, 4, "r9")) == "reports/bench_r9_c2_detail.json"
    assert sorted(os.listdir(tmp_path / "reports")) == [
        "bench_r15_detail.json",
        "bench_r16_detail.json",
    ]


def test_full_core_rerun_stays_in_its_round(tmp_path):
    repo = _repo(tmp_path, rounds=(15, 16), details=(15,))
    assert _name(bench_detail_path(repo, 4, 4)) == "reports/bench_r16_detail.json"
    assert _name(bench_detail_path(repo, 8, 4)) == "reports/bench_r16_detail.json"
    assert _name(bench_detail_path(repo, 2, 4)) == "reports/bench_r16_c2_detail.json"
    assert _name(bench_detail_path(repo, 4, 4, "r20")) == "reports/bench_r20_detail.json"
