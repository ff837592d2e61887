"""bench.py's per-query detail file never overwrites a committed one."""

from __future__ import annotations

import os

from bench import detail_path


def test_detail_path_skips_existing_capture(tmp_path):
    (tmp_path / "BENCH_r14.json").write_text("{}")
    (tmp_path / "BENCH_r13_c8.json").write_text("{}")
    (tmp_path / "BENCHDETAIL_r15.json").write_text("{}")
    assert detail_path(str(tmp_path)) == os.path.join(str(tmp_path), "BENCHDETAIL_r16.json")


def test_detail_path_next_round_when_free(tmp_path):
    (tmp_path / "BENCH_r14.json").write_text("{}")
    assert detail_path(str(tmp_path)) == os.path.join(str(tmp_path), "BENCHDETAIL_r15.json")
