"""tools/update_certified.py's stale-row guard diffs against the latest
"round N: ..." snapshot commit; a subject that merely starts with
"round " (e.g. "round trip fix: x") must not count as a snapshot.
Pure-python plus git, no Spark session."""

import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import update_certified as uc


def test_round_subject_is_anchored():
    assert uc.ROUND_SUBJECT.match("round 12: verdict")
    assert not uc.ROUND_SUBJECT.match("round trip fix: x")
    assert not uc.ROUND_SUBJECT.match("fix round 12: x")


def test_latest_round_commit_skips_lookalike_subjects(tmp_path):
    def git(*args):
        return subprocess.run(
            ["git", "-C", str(tmp_path), "-c", "user.name=t",
             "-c", "user.email=t@t", *args],
            capture_output=True, text=True, check=True,
        ).stdout.strip()

    git("init", "-q")
    git("commit", "-q", "--allow-empty", "-m", "round 12: verdict")
    snapshot = git("rev-parse", "HEAD")
    git("commit", "-q", "--allow-empty", "-m", "round trip fix: x")
    assert uc._latest_round_commit(str(tmp_path)) == snapshot
