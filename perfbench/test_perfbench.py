"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

``test_a_wrong_expected_result_fails_the_run`` starts Spark and takes
about a minute.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen, oracle, run, trace  # noqa: E402


def _span(name, start, end, parent):
    return {"name": name, "start": start, "end": end, "parent": parent}


def test_self_times_subtract_covered_child_time():
    spans = [
        _span("pass", 0.0, 10.0, None),
        _span("q.a", 1.0, 4.0, 0),
        _span("build", 1.0, 2.0, 1),
        _span("run", 2.5, 4.0, 1),
        _span("q.b", 5.0, 9.0, 0),
    ]
    selfs = trace.self_times(spans)
    assert selfs == pytest.approx([3.0, 0.5, 1.0, 1.5, 4.0])
    assert sum(selfs) == pytest.approx(10.0)
    assert trace.subtree(spans, 1) == [1, 2, 3]


def test_union_length_merges_overlaps():
    assert trace._union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert trace._union_length([]) == 0.0


def test_mismatch_is_order_insensitive_and_catches_a_wrong_value():
    a = oracle.canonical(["B", "a"], [(2, 1.0), (1, None)])
    b = oracle.canonical(["a", "b"], [(None, 1), (1.0, 2)])
    assert oracle.mismatch(a, b) is None
    c = oracle.canonical(["a", "b"], [(None, 1), (1.5, 2)])
    assert "row" in oracle.mismatch(a, c)
    assert "row count" in oracle.mismatch(a, {**b, "rows": b["rows"][1:]})


def test_sparkify_generator_is_seeded_and_has_the_edge_rows(tmp_path):
    m1 = gen.write_sparkify(str(tmp_path / "a"), 3, 5, 1500, 60, 12)
    m2 = gen.write_sparkify(str(tmp_path / "b"), 3, 5, 1500, 60, 12)
    gen.write_sparkify(str(tmp_path / "c"), 3, 6, 1500, 60, 12)
    assert m1 == m2
    for sub in ("song_data", "log_data"):
        for f in sorted(os.listdir(tmp_path / "a" / sub)):
            assert (tmp_path / "a" / sub / f).read_bytes() == (tmp_path / "b" / sub / f).read_bytes()
        # another order seed: the same lines, spread over the files in another order
        a, c = ([ln for f in sorted(os.listdir(tmp_path / d / sub))
                 for ln in open(tmp_path / d / sub / f)] for d in ("a", "c"))
        assert a != c and sorted(a) == sorted(c)

    def rows(sub):
        d = tmp_path / "a" / sub
        return [json.loads(line) for f in sorted(os.listdir(d)) for line in open(d / f)]

    songs, logs = rows("song_data"), rows("log_data")
    assert any(s["year"] == 0 for s in songs)
    assert any(s["artist_latitude"] is None for s in songs)
    by_song = {}
    for s in songs:
        by_song.setdefault(s["song_id"], set()).add(s["artist_id"])
    assert any(len(a) > 1 for a in by_song.values())
    by_artist = {}
    for s in songs:
        by_artist.setdefault(s["artist_id"], set()).add(s["artist_name"])
    assert any(len(n) > 1 for n in by_artist.values())
    for col in gen._DROPNA:
        assert any(r[col] is None and (r["page"] in ("NextSong", None)) for r in logs), col
    for col in gen._NONEMPTY:
        assert any(r[col] == "" for r in logs), col
    assert any(r["page"] != "NextSong" for r in logs)
    assert {r["level"] for r in logs if r["userId"] == "1"} == {"free", "paid"}
    titles = {(s["artist_name"], s["title"], s["duration"]) for s in songs}
    played = [(r["artist"], r["song"], r["length"]) for r in logs if r["page"] == "NextSong"]
    assert any(p in titles for p in played) and any(p not in titles for p in played)
    months = {(r["ts"] // 86_400_000 // 30) for r in logs if r["ts"] is not None}
    assert len(months) >= 2
    seen = set()
    for r in logs:  # no user has two events at one instant
        key = (r["userId"], r["ts"])
        assert key not in seen or r["ts"] is None
        seen.add(key)


def test_a_wrong_expected_result_fails_the_run(monkeypatch, capsys):
    real = oracle.cached_expected

    def wrong(*args, **kwargs):
        exp = real(*args, **kwargs)
        return {**exp, "rows": exp["rows"][1:]}

    monkeypatch.setattr(oracle, "cached_expected", wrong)
    code = run.main(["--workload", "sparkify_etl", "--seed", "1", "--seconds", "1", "--trace", "0"])
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code != 0
    assert result["correct"] is False and result["failed"] >= 1


def test_the_command_fails_without_the_program(tmp_path):
    bench = tmp_path / "checkout"
    (bench / "perfbench").mkdir(parents=True)
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (bench / "perfbench" / f).write_bytes(open(os.path.join(HERE, f), "rb").read())
    (bench / "BENCHMARK.json").write_bytes(open(os.path.join(ROOT, "BENCHMARK.json"), "rb").read())
    # a Spark session started earlier in this process exports PYTHONPATH
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bench, env=env, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
