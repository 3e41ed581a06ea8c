"""Tests of the benchmark's input generator, its reference checks (on
hand-made cases) and its process handling.  No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

# ------------------------------------------------------------------ generator


def test_typing_inputs_are_seeded_and_sized():
    a, b, c = gen.make_typing(5), gen.make_typing(5), gen.make_typing(6)
    assert a.batches[0].rows == b.batches[0].rows
    assert a.cg.profiles == b.cg.profiles
    assert a.batches[0].rows != c.batches[0].rows
    for inp in (a, c):
        assert len(inp.batches) == gen.BATCHES_PER_ROUND
        assert all(len(bt.ids) == gen.BATCH_ISOLATES for bt in inp.batches)
        assert len(inp.mlst.profiles) == gen.MLST_DEFS
        assert len(inp.cg.profiles) == gen.CG_DEFS
        assert len(set(map(tuple, inp.cg.profiles))) == gen.CG_DEFS


def test_typing_inputs_have_the_promised_shape():
    inp = gen.make_typing(3)
    cells = np.array(inp.cg.profiles)
    assert gen.CG_LOCI > 64 and cells.shape == (gen.CG_DEFS, gen.CG_LOCI)
    assert abs((cells == gen.WILDCARD).mean() - gen.CG_N_SHARE) < 0.01
    assert not (np.array(inp.mlst.profiles) == gen.WILDCARD).any()
    rows = inp.batches[0].rows
    assert len(rows) == len(set(rows))
    per_locus = pd.DataFrame(rows, columns=["iso", "locus", "allele"]).groupby(
        ["iso", "locus"]).size()
    assert (per_locus > 1).any(), "paralogous double designations expected"
    n_loci = gen.MLST_LOCI + gen.CG_LOCI
    assert len(per_locus) < gen.BATCH_ISOLATES * n_loci, "missing loci expected"
    pos = gen.positional(rows, inp.cg)
    assert all(0 <= p < gen.CG_LOCI for _, p, _ in pos)


def test_query_inputs_are_seeded():
    a, b = gen.make_queries(4), gen.make_queries(4)
    assert a.requests == b.requests and a.designations == b.designations
    assert len(a.requests) == gen.REQUESTS_PER_ROUND
    assert {r["kind"] for r in a.requests} == set(gen.REQUEST_KINDS)
    assert len(a.isolates["id"]) == gen.ISOLATES
    assert len({i for i, _, _ in a.private}) == len(a.private)


# ------------------------------------------------------------------ typing checks

SCHEME = [["1", "2"], ["1", "N"], ["3", "2"]]
STS = [10, 11, 12]


def test_exact_sts_is_whole_vector_equality():
    defs = {",".join(p): st for p, st in zip(SCHEME, STS)}
    rows = [(1, "a", "1"), (1, "b", "2"),          # ST 10
            (2, "a", "1"), (2, "b", "5"),          # 'N' is literal here: no match
            (3, "a", "3"), (3, "b", "2"), (3, "b", "7"),  # paralog: no match
            (4, "a", "1")]                         # missing locus: no match
    assert checks.exact_sts(rows, ["a", "b"], defs) == {(1, 10)}


def test_membership_sts_wildcards_only_with_missing_loci_allowed():
    pos = [(1, 0, "1"), (1, 1, "5"),           # matches 11 only via 'N'
           (2, 0, "3"), (2, 0, "1"), (2, 1, "2"),  # paralog set {1, 3}: 10 and 12
           (3, 0, "1")]                        # position 1 missing: only 'N'
    assert checks.membership_sts(pos, SCHEME, STS, True) == {
        (1, 11), (2, 10), (2, 12), (2, 11), (3, 11)}
    assert checks.membership_sts(pos, SCHEME, STS, False) == {(2, 10), (2, 12)}


def test_pair_distances_count_joined_designation_pairs():
    rows = [(1, "a", "1"), (1, "b", "2"),
            (2, "a", "1"), (2, "b", "3"), (2, "b", "2"),
            (3, "c", "9")]
    got = checks.pair_distances(rows, ["a", "b", "c"])
    assert got == {(1, 2): (3, 2, 1)}  # (3, c) shares no locus


def test_union_find_labels_by_smallest_member():
    assert checks.union_find_groups([5, 3, 9, 7, 1], [(9, 3), (7, 9)]) == {
        5: 5, 3: 3, 9: 3, 7: 3, 1: 1}


# ------------------------------------------------------------------ query checks

ISO = pd.DataFrame({
    "id": [1, 2, 3, 4, 5, 6],
    "country": ["UK", "uk", "France", "UK", "UK", "UK"],
    "year": [2001, 2005, 2003, 2005, 1999, 2010],
    "new_version": [None, None, None, None, None, 7],
})
PRIVATE = pd.DataFrame({"isolate_id": [2, 3, 4], "owner_id": [8, 9, 8],
                        "embargo_date": ["2024-01-01", None, "2025-01-01"]})
PROJECTS = pd.DataFrame({"project_id": [1], "isolate_id": [3]})


def _ids(df):
    return sorted(df["id"])


def test_visible_rows_per_role():
    def v(role, uid=None, projects=()):
        return _ids(checks.visible(ISO, PRIVATE, PROJECTS, role, uid, list(projects),
                                   "2024-06-01"))

    assert v("admin") == [1, 2, 3, 4, 5]      # old version 6 is hidden to all
    assert v("public") == [1, 2, 5]           # 2: embargo passed
    assert v("user", 8) == [1, 2, 4, 5]       # own private record 4
    assert v("user", 9, [1]) == [1, 2, 3, 5]  # own 3 (also via project 1)
    assert v("user", 1, [1]) == [1, 2, 3, 5]  # project member


def test_search_page_orders_with_id_tiebreak():
    view = ISO[ISO["new_version"].isna()]
    body = {"field.country": "uK", "field.year": {"operator": ">=", "value": 2001},
            "page": 1, "page_size": 2, "sort": "-year"}
    assert checks.search_page(view, body) == [2, 4]
    assert checks.search_page(view, {**body, "page": 2}) == [1]
    assert checks.search_page(view, {**body, "sort": "id", "page_size": 9}) == [1, 2, 4]


def test_crosstab_percentages():
    df = pd.DataFrame({"a": ["x", "x", "y"], "b": ["p", "q", "p"]})
    got = checks.crosstab(df, "a", "b")
    assert got[("x", "p")] == (1, 50.0, 100 / 3)
    assert got[("y", "p")] == (1, 100.0, 100 / 3)


# ------------------------------------------------------------------ processes


def test_reap_kills_what_outlives_the_grace_period():
    proc = subprocess.Popen(["sleep", "30"], start_new_session=True)
    try:
        assert run.session_pids(proc.pid) == [proc.pid]
        assert run.reap(proc.pid, 0.3) == [proc.pid]
        proc.wait(timeout=5)
        assert run.session_pids(proc.pid) == []
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def test_reap_returns_nothing_when_the_session_has_ended():
    proc = subprocess.Popen(["true"], start_new_session=True)
    proc.wait(timeout=5)
    assert run.reap(proc.pid, 1.0) == []


def test_command_fails_without_the_program(tmp_path):
    bench = os.path.dirname(HERE)
    shutil.copytree(bench, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    (tmp_path / "BENCHMARK.json").write_text(json.dumps({}))
    res = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                          "typing_batch", "--seed", "1", "--seconds", "1"],
                         cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert res.returncode != 0
    assert res.stdout == ""


@pytest.mark.parametrize("name", sorted(run.WORKLOADS))
def test_workload_names_match_the_benchmark_file(name):
    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)),
                           "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert name in {w["name"] for w in spec["workloads"]}
