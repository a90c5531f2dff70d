"""Process and tree hygiene of the benchmark itself: a run killed
midway stops every process it started and leaves the checkout as it
found it. Takes about a minute:

    python3 -m pytest perfbench/test_run.py -q
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402


def _alive(pid: int) -> bool:
    st = harness.proc_stat(pid)
    return st is not None and st[0] != "Z"


def _tree() -> str:
    return subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, check=True,
                          capture_output=True, text=True).stdout


def test_killed_run_leaves_no_process_and_no_files():
    before = _tree()
    proc = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", "serve_ingest_20k",
         "--seed", "1", "--seconds", "4", "--trace", "1"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    seen: set[int] = set()
    jvm_at = None
    deadline = time.time() + 120
    # let the JVM start and the store build begin, then kill the run
    while time.time() < deadline and (jvm_at is None or time.time() < jvm_at + 20):
        seen |= set(harness.process_tree(proc.pid)) - {proc.pid}
        if jvm_at is None and len(seen) > 0:
            jvm_at = time.time()
        time.sleep(0.2)
    assert jvm_at is not None, "the run started no child process"
    assert proc.poll() is None, "the run ended before it could be killed"
    proc.send_signal(signal.SIGTERM)
    out, _ = proc.communicate(timeout=60)
    assert proc.returncode != 0
    last = out.strip().splitlines()[-1] if out.strip() else ""
    assert not last.startswith("{"), "a killed run must not print a result"
    time.sleep(1)
    assert [p for p in seen if _alive(p)] == []
    assert _tree() == before
    assert not os.path.exists(os.path.join(ROOT, ".perfbench", f"run-{proc.pid}"))

