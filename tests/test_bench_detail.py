"""``bench.merge_detail``: the one BENCH_DETAIL.json writer that ``bench.py``
and the tools share.  No Spark session is started."""

import json

import pytest

import bench


def test_merge_detail_keeps_the_other_sections(tmp_path):
    path = str(tmp_path / "BENCH_DETAIL.json")
    bench.merge_detail({"sf1": {"n": 1}}, path)  # a missing file counts as {}
    bench.merge_detail({"queries": {"q": 0.5}}, path)
    assert bench.merge_detail({"sf1": {"n": 2}}, path) == {"sf1": {"n": 2}, "queries": {"q": 0.5}}
    assert bench.load_detail(path) == {"sf1": {"n": 2}, "queries": {"q": 0.5}}
    assert [p.name for p in tmp_path.iterdir()] == ["BENCH_DETAIL.json"]


def test_merge_detail_leaves_a_corrupt_file_as_it_was(tmp_path):
    path = tmp_path / "BENCH_DETAIL.json"
    corrupt = b'{"sf1": {"n": 1}, "queries": '
    path.write_bytes(corrupt)
    with pytest.raises(json.JSONDecodeError):
        bench.merge_detail({"sf1": {"n": 2}}, str(path))
    assert path.read_bytes() == corrupt


def test_merge_detail_failed_write_keeps_the_old_file(tmp_path):
    path = tmp_path / "BENCH_DETAIL.json"
    bench.merge_detail({"sf1": {"n": 1}}, str(path))
    before = path.read_bytes()
    with pytest.raises(TypeError):
        bench.merge_detail({"sf1": object()}, str(path))  # not JSON-serializable
    assert path.read_bytes() == before
    assert [p.name for p in tmp_path.iterdir()] == ["BENCH_DETAIL.json"]
