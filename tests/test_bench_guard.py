"""bench.py dirty-tree guard: the driver writes an untracked
CORRECTNESS_r{N}.json BEFORE invoking bench, and round 7's guard
refused exactly that sequence (BENCH_r07.json was rc=3 instead of
numbers — the round shipped no official perf artifact). These tests
pin the repaired contract:

- untracked NON-code files (driver round artifacts, logs) never dirty
  the stamp;
- untracked ``*.py`` (uncommitted code that load_all() could import)
  and any tracked modification still do;
- the driver's exact sequence (write untracked CORRECTNESS, run
  bench.py) completes with rc=0.

Plus the promote_bench gate (round-7 item #7): a subset / dirty /
stale-SHA scratch artifact is never promotable into BENCH_full.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

import bench  # noqa: E402
import promote_bench  # noqa: E402


def _git(tmp, *args):
    return subprocess.run(
        ["git", *args], cwd=tmp, capture_output=True, text=True, check=True
    )


@pytest.fixture()
def scratch_repo(tmp_path):
    """A hermetic git repo with one committed file."""
    _git(tmp_path, "init", "-q")
    _git(tmp_path, "config", "user.email", "t@t")
    _git(tmp_path, "config", "user.name", "t")
    (tmp_path / "module.py").write_text("x = 1\n")
    (tmp_path / "BENCH_full.json").write_text("{}")
    _git(tmp_path, "add", "-A")
    _git(tmp_path, "commit", "-qm", "init")
    return str(tmp_path)


def test_clean_tree_is_clean(scratch_repo):
    assert not bench._git_state(scratch_repo).endswith("-dirty")


def test_untracked_round_artifacts_do_not_dirty(scratch_repo):
    # the exact files the driver writes before benching
    for name in ("CORRECTNESS_r8.json", "VERDICT.md.tmp", "run.log"):
        with open(os.path.join(scratch_repo, name), "w") as f:
            f.write("{}")
    assert not bench._git_state(scratch_repo).endswith("-dirty")


def test_untracked_python_file_dirties(scratch_repo):
    with open(os.path.join(scratch_repo, "sneaky.py"), "w") as f:
        f.write("x = 2\n")
    assert bench._git_state(scratch_repo).endswith("-dirty")


def test_untracked_python_inside_new_directory_dirties(scratch_repo):
    """Plain --porcelain collapses an untracked dir into one
    '?? dir/' line, which hid .py files inside new directories
    (round-8 ADVICE item); -uall lists them individually."""
    sub = os.path.join(scratch_repo, "newpkg", "nested")
    os.makedirs(sub)
    with open(os.path.join(sub, "sneaky.py"), "w") as f:
        f.write("x = 2\n")
    assert bench._git_state(scratch_repo).endswith("-dirty")


def test_untracked_directory_of_noncode_stays_clean(scratch_repo):
    sub = os.path.join(scratch_repo, "logs")
    os.makedirs(sub)
    with open(os.path.join(sub, "run.log"), "w") as f:
        f.write("ok\n")
    assert not bench._git_state(scratch_repo).endswith("-dirty")


def test_tracked_modification_dirties(scratch_repo):
    with open(os.path.join(scratch_repo, "module.py"), "a") as f:
        f.write("y = 2\n")
    assert bench._git_state(scratch_repo).endswith("-dirty")


def test_bench_own_artifact_rewrite_stays_clean(scratch_repo):
    with open(os.path.join(scratch_repo, "BENCH_full.json"), "w") as f:
        f.write('{"v": 2}')
    assert not bench._git_state(scratch_repo).endswith("-dirty")


def test_driver_sequence_bench_runs(tmp_path):
    """Simulate the driver: untracked CORRECTNESS_r{N}.json in the
    repo root, then invoke bench.py (one-query subset at sf0.001 so the
    smoke stays cheap). Asserts rc=0 and a parseable stdout line — the
    exact round-7 failure mode.

    Runs in a fresh clone of HEAD, so uncommitted edits in the working
    tree (which would rightly stamp it dirty) cannot turn the check
    into a skip."""
    clone = str(tmp_path / "repo")
    subprocess.run(
        ["git", "clone", "-q", REPO, clone],
        capture_output=True, text=True, check=True,
    )
    assert not bench._git_state(clone).endswith("-dirty")
    with open(os.path.join(clone, "CORRECTNESS_r99.json"), "w") as f:
        f.write("{}")
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_NAMES="trip_daily_kpi",
        SPARK_GRAFT_BENCH_OUT=str(tmp_path / "bench_smoke.json"),
    )
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=clone, env=env, capture_output=True, text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert "trip_daily_kpi" in result["queries"]
    assert not result["git"].endswith("-dirty")


def test_bench_unknown_subset_name_is_an_error(tmp_path):
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_NAMES="definitely_not_a_query",
        SPARK_GRAFT_ALLOW_DIRTY="1",
        SPARK_GRAFT_BENCH_OUT=str(tmp_path / "x.json"),
    )
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 4


# ---- promote_bench gate ----

def _artifact(**over):
    base = {
        "git": promote_bench.head_sha(),
        "sf": 0.1,
        "value": 100.0,
        "machine": {"disk_write_mbps": 200.0},
        "queries": {n: 1.0 for n in bench.HEADLINE},
    }
    base.update(over)
    return base


def test_promote_accepts_clean_head_full_artifact():
    assert promote_bench.validate(_artifact()) == []


def test_promote_refuses_dirty_stamp():
    probs = promote_bench.validate(
        _artifact(git=promote_bench.head_sha() + "-dirty"))
    assert any("not clean" in p for p in probs)


def test_promote_refuses_stale_sha():
    probs = promote_bench.validate(_artifact(git="0000000"))
    assert any("does not match HEAD" in p for p in probs)


def test_promote_refuses_wrong_sf():
    probs = promote_bench.validate(_artifact(sf=0.01))
    assert any("official" in p for p in probs)


def test_promote_refuses_subset_run():
    art = _artifact()
    del art["queries"]["trip_daily_kpi"]
    probs = promote_bench.validate(art)
    assert any("subset" in p for p in probs)


def test_promote_refuses_missing_or_bad_value():
    """select() ranks on 'value' and main() indexes it — a run
    without it must be refused at validate time, not crash later
    (round-9 advice)."""
    art = _artifact()
    del art["value"]
    assert any("'value'" in p for p in promote_bench.validate(art))
    assert any("'value'" in p
               for p in promote_bench.validate(_artifact(value="fast")))
    art = _artifact()
    del art["machine"]
    assert any("'machine'" in p for p in promote_bench.validate(art))


# ---- best-of-2 promotion policy (round-8 judge item #1) ----

def test_select_refuses_single_run():
    promoted, problems = promote_bench.select([_artifact(value=100.0)])
    assert promoted is None
    assert any("best-of-2" in p for p in problems)


def test_select_promotes_lower_total_with_full_provenance():
    runs = [
        _artifact(value=184.7, machine={"disk_write_mbps": 76.0}),
        _artifact(value=151.8, machine={"disk_write_mbps": 364.0}),
    ]
    promoted, problems = promote_bench.select(runs)
    assert problems == []
    assert promoted["value"] == 151.8
    prov = promoted["promotion"]
    assert prov["attempts"] == 2
    totals = [r["value"] for r in prov["runs"]]
    assert totals == [184.7, 151.8]  # BOTH runs recorded, log order
    assert [r["selected"] for r in prov["runs"]] == [False, True]
    assert prov["runs"][0]["machine"] == {"disk_write_mbps": 76.0}


def test_load_candidates_filters_invalid_runs(tmp_path, monkeypatch):
    """Smoke/subset/dirty/stale lines in runs.jsonl never count
    toward the best-of-2 quorum."""
    log = tmp_path / "runs.jsonl"
    lines = [
        _artifact(value=150.0),                             # valid
        _artifact(value=90.0, sf=0.01),                     # wrong sf
        _artifact(value=80.0, git="0000000"),               # stale sha
        _artifact(value=70.0,
                  git=promote_bench.head_sha() + "-dirty"),  # dirty
        _artifact(value=140.0),                             # valid
    ]
    subset = _artifact(value=1.0)
    subset["queries"] = {"trip_daily_kpi": 1.0}             # subset run
    lines.append(subset)
    log.write_text(
        "\n".join(json.dumps(a) for a in lines) + "\nnot json\n")
    monkeypatch.setattr(promote_bench, "RUNLOG", str(log))
    cands = promote_bench.load_candidates()
    assert [c["value"] for c in cands] == [150.0, 140.0]
    promoted, problems = promote_bench.select(cands)
    assert problems == []
    assert promoted["value"] == 140.0
