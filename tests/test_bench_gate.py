"""bench.py's regression gate picks its baseline like for like: the
newest BENCH_r{N}.json at the same sf and cpus whose ``parsed`` is a
dict, or none at all."""

import json

from bench import _previous_round_queries


def _record(root, n, sf, cpus, parsed):
    (root / f"BENCH_r{n:02d}.json").write_text(
        json.dumps({"n": n, "rc": 0, "cpus": cpus, "sf": sf, "parsed": parsed})
    )


def _q(seconds):
    return {"queries": {"q": seconds}}


def test_newest_matching_record_wins(tmp_path):
    _record(tmp_path, 1, 0.01, 4, _q(1.0))
    _record(tmp_path, 2, 0.01, 4, _q(2.0))
    _record(tmp_path, 3, 0.1, 32, _q(3.0))
    assert _previous_round_queries(str(tmp_path), 0.01, 4) == ("BENCH_r02.json", {"q": 2.0})
    assert _previous_round_queries(str(tmp_path), 0.1, 32) == ("BENCH_r03.json", {"q": 3.0})


def test_other_scale_or_cpus_is_no_baseline(tmp_path):
    _record(tmp_path, 5, 0.1, 32, _q(1.0))
    assert _previous_round_queries(str(tmp_path), 0.01, 4) == (None, {})
    assert _previous_round_queries(str(tmp_path), 0.1, 4) == (None, {})
    assert _previous_round_queries(str(tmp_path), 0.01, 32) == (None, {})


def test_unparsed_or_corrupt_record_falls_back_to_older(tmp_path):
    _record(tmp_path, 3, 0.1, 32, _q(3.0))
    _record(tmp_path, 4, 0.1, 32, None)
    (tmp_path / "BENCH_r05.json").write_text("{not json")
    (tmp_path / "BENCH_r06_builder.json").write_text(json.dumps({"sf": 0.1, "cpus": 32}))
    assert _previous_round_queries(str(tmp_path), 0.1, 32) == ("BENCH_r03.json", {"q": 3.0})
    _record(tmp_path, 3, 0.1, 32, None)
    assert _previous_round_queries(str(tmp_path), 0.1, 32) == (None, {})
