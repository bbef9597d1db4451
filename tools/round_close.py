"""Structural round-boundary bench hygiene (VERDICT r11 Next-round #2):
three rounds running, `bench_scenarios.json` ended the round modified-
but-uncommitted because the final bench run post-dated the last commit.
This makes a dirty sidecar impossible by construction: it runs the
canonical sf0.1 bench, then COMMITS the refreshed sidecar (plus any
bench_evidence updates) in the same step, and prints the commit hash
for the VERIFY stamp to cite.

Usage:
    python tools/round_close.py              # bench at $SPARK_GRAFT_SF_DIR
                                             # (default sf0.1), then commit
    python tools/round_close.py --no-commit  # bench only (dry run)

Exit codes: bench failures (quality gates / regression guard) propagate
— a failing bench leaves the tree untouched and exits nonzero, so a
round can never close on a silently failing benchmark. Before benching,
queries whose behavior hash moved since their verified-green stamp and
that sit outside the gate window (``tools/gate_manifest.py``) stop the
close with exit code 3: re-verify (``tools/verify_sweep.py``) and
re-stamp (``tools/stamp_manifest.py``) first.
"""
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def stale_queries() -> list[str]:
    """Queries changed since their last verified-green stamp that the
    external gate will not re-check (the test_gate_freshness rule)."""
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry
    from tools.gate_manifest import (
        GATE_WINDOW,
        compute_hashes,
        load_manifest,
        stale_gate_violations,
    )

    return stale_gate_violations(
        load_manifest(), compute_hashes(entry), list(entry.queries()), GATE_WINDOW
    )


def main() -> int:
    commit = "--no-commit" not in sys.argv
    if "--full-tests" in sys.argv:
        # the FULL test tier (everything, including @pytest.mark.full
        # suites the default time-boxed tier excludes — see pytest.ini);
        # run it at round close and stamp the result in VERIFY_r13.txt
        proc = subprocess.run(
            [
                sys.executable, "-m", "pytest", "tests/", "-q",
                "-m", "full or not full",
            ],
            cwd=REPO,
        )
        return proc.returncode
    stale = stale_queries()
    if stale:
        print(
            f"round_close: {len(stale)} queries changed since their "
            f"verified-green stamp: {stale} — run tools/verify_sweep.py, "
            "then tools/stamp_manifest.py, before closing",
            file=sys.stderr,
        )
        return 3
    env = dict(os.environ)
    # min-of-3 headline passes: single samples certify host weather,
    # not code (three consecutive closes flagged three disjoint query
    # sets on an intermittently-stalling host); the canonical record
    # uses the same min estimator as the paired A/B protocol
    env.setdefault("SPARK_GRAFT_HEADLINE_RUNS", "3")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
    )
    sys.stderr.write(proc.stderr)
    sys.stdout.write(proc.stdout)
    line = next(
        (ln for ln in reversed(proc.stdout.splitlines()) if ln.startswith("{")), None
    )
    if proc.returncode != 0:
        print(
            f"round_close: bench exited {proc.returncode} — NOT committing "
            "the sidecar; fix the regression/gate first",
            file=sys.stderr,
        )
        return proc.returncode
    if line is None:
        print("round_close: bench printed no JSON line — aborting", file=sys.stderr)
        return 2
    if not commit:
        print("round_close: dry run (no commit)", file=sys.stderr)
        return 0
    paths = ["bench_scenarios.json", "bench_evidence"]
    subprocess.run(["git", "add", "--"] + paths, cwd=REPO, check=True)
    staged = subprocess.run(
        ["git", "diff", "--cached", "--quiet"], cwd=REPO
    ).returncode
    if staged == 0:
        print("round_close: sidecar unchanged — nothing to commit", file=sys.stderr)
        return 0
    subprocess.run(
        [
            "git",
            "commit",
            "-q",
            "-m",
            "Refresh canonical bench sidecar at round close",
        ],
        cwd=REPO,
        check=True,
    )
    head = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True
    ).stdout.strip()
    print(f"round_close: committed sidecar at {head}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
