"""Tests for the benchmark's own arithmetic and its BENCHMARK.json.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

from check import row_matches
from inputs import WORKLOADS, cache_key, source_digest
from spans import Tracer, ladder_self, percentile, self_time, tail_percentile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize(
    "n, want",
    [(0, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0), (999, 90.0),
     (1000, 99.0), (9999, 99.0), (10000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, want):
    assert tail_percentile(n) == want


def test_percentile_is_nearest_rank():
    values = [float(v) for v in range(1, 1001)]
    assert percentile(values, 50.0) == 500.0
    assert percentile(values, 99.0) == 990.0
    assert percentile(values, 99.9) == 999.0
    assert percentile([7.0], 99.0) == 7.0


def test_self_time_subtracts_the_union_of_children():
    # children overlap (2-4, 3-5) and one pokes past the parent's end
    assert self_time(0.0, 10.0, [(2.0, 4.0), (3.0, 5.0), (8.0, 12.0)]) == pytest.approx(5.0)
    assert self_time(0.0, 10.0, []) == 10.0
    assert self_time(0.0, 1.0, [(0.0, 1.0)]) == 0.0


def test_tracer_nests_spans_and_reports_self_time():
    tr = Tracer()
    with tr.span("doc", trace_id="u1") as doc:
        with tr.span("stage") as stage:
            pass
    st = tr.self_times()
    assert stage[4] == doc[0] and stage[5] is None and doc[5] == "u1"
    assert st[doc[0]] == pytest.approx((doc[3] - doc[2]) - (stage[3] - stage[2]))
    assert tr.total_self("stage") == pytest.approx(stage[3] - stage[2])


def test_ladder_self_is_rung_minus_rung_below():
    rungs = {"scan": 1.0, "shuffle": 1.5, "extract": 4.0}
    got = ladder_self(rungs, [("scan", None), ("shuffle", "scan"), ("extract", "shuffle")])
    assert got == {"scan": 1.0, "shuffle": 0.5, "extract": 2.5}


def test_cache_key_changes_with_one_generator_source_byte(tmp_path):
    for rel in ("markmuse_spark/sources", "markmuse_spark/golden"):
        os.makedirs(tmp_path / rel)
    for name in os.listdir(os.path.join(ROOT, "markmuse_spark", "sources")):
        if name.endswith(".py"):
            shutil.copy(os.path.join(ROOT, "markmuse_spark", "sources", name), tmp_path / "markmuse_spark" / "sources")
    shutil.copy(os.path.join(ROOT, "markmuse_spark", "golden", "oracle.py"), tmp_path / "markmuse_spark" / "golden")
    wl = WORKLOADS["crawl_fresh"]
    before = cache_key(wl, 1, str(tmp_path))
    assert before == cache_key(wl, 1, ROOT)
    assert before != cache_key(wl, 2, str(tmp_path))
    for rel in ("markmuse_spark/sources/corpus.py", "markmuse_spark/golden/oracle.py"):
        path = tmp_path / rel
        data = bytearray(path.read_bytes())
        data[len(data) // 2] ^= 1
        path.write_bytes(bytes(data))
        after = source_digest(str(tmp_path))
        assert cache_key(wl, 1, str(tmp_path)) != before
        before = cache_key(wl, 1, str(tmp_path))
        assert after == source_digest(str(tmp_path))


def test_names_and_units_are_well_formed():
    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME_RE.fullmatch(name), name
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT_RE.fullmatch(m["unit"]), m
    for w in spec["workloads"]:
        assert w["name"] in WORKLOADS
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert max(m["bound"] for m in e2e.values()) == e2e["setup_s"]["bound"] <= 0.25


def test_row_match_rule():
    want = {"markdown": "# a", "extracted_text": "a", "n_images": 1, "error_expected": None}
    got = {"markdown": "# a", "extracted_text": "a", "n_images": 1, "error": None}
    assert row_matches(got, want)
    assert not row_matches({**got, "markdown": "# b"}, want)
    assert not row_matches({**got, "error": "ValueError: x"}, want)
    hard = {"markdown": None, "extracted_text": None, "n_images": 0, "error_expected": "empty payload"}
    dead = {"markdown": None, "extracted_text": None, "n_images": 0, "error": "ValueError: empty payload"}
    assert row_matches(dead, hard)
    assert not row_matches({**dead, "error": None}, hard)


def test_orphaned_grandchildren_are_waited_for_or_killed():
    # the shell exits at once and orphans its sleeps, as the JVM orphans
    # the Spark Python daemon
    code = (
        "import os, subprocess, time\n"
        "from procs import adopt_orphans, descendants, reap_children\n"
        "adopt_orphans()\n"
        "subprocess.run(['sh', '-c', 'sleep 0.5 & sleep 60 &'])\n"
        "t0 = time.monotonic()\n"
        "killed = reap_children(grace_s=2.0)\n"
        "print(len(killed), time.monotonic() - t0 >= 2.0, descendants(os.getpid()))\n"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd=HERE, capture_output=True, text=True, check=True)
    assert out.stdout.split("\n")[0] == "1 True []"
