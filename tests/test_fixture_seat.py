"""The registry's build-once fixture seat (queries.py ``_seat``) and the
oracle checker that verifies the seats. No Spark session is started:
the seat protocol is exercised with trivial build callables.

- two processes building one seat at once both read the winner's
  marker and content; exactly one build survives and no build dir is
  left behind;
- a build that raises leaves no seat and no build dir, and the next
  call builds normally;
- ``scripts/check_oracle.py`` refuses unknown query names instead of
  checking nothing.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

import pytest

import pasar_spark.queries as q

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Each process arrives at a file barrier inside its build, so both
# builds are in flight before either renames its build dir.
WORKER = '''
import json, os, sys, time

import pasar_spark.queries as q

barrier, me = sys.argv[1], sys.argv[2]


def build(path):
    open(os.path.join(barrier, "arrive-" + me), "w").close()
    deadline = time.monotonic() + 60
    while len(os.listdir(barrier)) < 2:
        if time.monotonic() > deadline:
            raise TimeoutError("the other build never arrived")
        time.sleep(0.01)
    with open(os.path.join(path, "content.txt"), "w") as fh:
        fh.write(me)
    return {"who": me}


cache, info = q._seat("race", "/sf/demo", build)
with open(os.path.join(cache, "content.txt")) as fh:
    print(json.dumps({"cache": cache, "info": info, "content": fh.read()}))
'''


def test_racing_builds_share_the_winners_seat(tmp_path):
    script = tmp_path / "worker.py"
    script.write_text(WORKER)
    barrier = tmp_path / "barrier"
    tmpdir = tmp_path / "tmp"
    barrier.mkdir()
    tmpdir.mkdir()
    env = {
        **os.environ,
        "TMPDIR": str(tmpdir),
        "PYTHONPATH": os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])),
    }
    procs = [
        subprocess.Popen(
            [sys.executable, str(script), str(barrier), me],
            env=env,
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for me in ("a", "b")
    ]
    try:
        outs = [p.communicate(timeout=120) for p in procs]
    finally:
        for p in procs:
            p.kill()
            p.wait()
    for p, (_, err) in zip(procs, outs):
        assert p.returncode == 0, err
    got = [json.loads(out.strip().splitlines()[-1]) for out, _ in outs]
    # both builds ran to the barrier, so one of them lost the rename ...
    assert sorted(os.listdir(barrier)) == ["arrive-a", "arrive-b"]
    # ... and both processes read the winner's marker and content
    assert got[0] == got[1]
    assert got[0]["info"]["who"] == got[0]["content"] in {"a", "b"}
    # exactly one build survives, and no build dir is left
    seats = os.listdir(tmpdir / "pasar_race")
    assert seats == [os.path.basename(got[0]["cache"])]


def test_failed_build_leaves_no_seat_and_the_next_call_builds(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    attempts = []

    def build(path):
        attempts.append(path)
        with open(os.path.join(path, "content.txt"), "w") as fh:
            fh.write("partial" if len(attempts) == 1 else "full")
        if len(attempts) == 1:
            raise RuntimeError("fixture took an unexpected path")
        return {"attempt": len(attempts)}

    with pytest.raises(RuntimeError, match="unexpected path"):
        q._seat("flaky", "/sf/demo", build)
    root = tmp_path / "pasar_flaky"
    assert os.listdir(root) == []

    cache, info = q._seat("flaky", "/sf/demo", build)
    assert info == {"attempt": 2}
    assert os.listdir(root) == [os.path.basename(cache)]
    with open(os.path.join(cache, "content.txt")) as fh:
        assert fh.read() == "full"
    # a warm seat is read, not rebuilt
    assert q._seat("flaky", "/sf/demo", build) == (cache, info)
    assert len(attempts) == 2


def test_check_oracle_refuses_unknown_query_names():
    r = subprocess.run(
        [
            sys.executable, "scripts/check_oracle.py", "/no/such/sf",
            "cdc_final_state", "typo_name",
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 2, r.stdout + r.stderr
    assert "typo_name" in r.stderr and "cdc_final_state" not in r.stderr
    assert "FAILURES" not in r.stdout
