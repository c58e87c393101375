"""The runner leaves no process of the engine's session behind, even one
that moved to a process group of its own (as PySpark's worker daemon
does), and removes the engine's new scratch entries but nobody else's."""

import subprocess
import sys
import time

from perfbench import procstat
from perfbench.run import stop_session

# child: start a grandchild in its own process group that outlives the child
SPAWN = """
import os, subprocess, sys
subprocess.Popen([sys.executable, "-c", "import os, time; os.setpgid(0, 0); time.sleep(60)"])
"""


def test_session_is_emptied_after_the_child_exits():
    proc = subprocess.Popen([sys.executable, "-c", SPAWN], start_new_session=True)
    assert proc.wait(timeout=30) == 0
    time.sleep(0.5)
    stray = [p for p in procstat.snapshot().values() if p.session == proc.pid and p.state != "Z"]
    assert stray, "the grandchild should still be running here"
    stop_session(proc, grace_s=0.5)
    for p in stray:
        gone = procstat._read_stat(p.pid)
        assert gone is None or gone.state == "Z"
    assert procstat._read_stat(proc.pid) is None  # the child itself was reaped


def test_clean_up_removes_only_the_engines_new_scratch(tmp_path, monkeypatch):
    from perfbench import scratch

    shm, layouts = tmp_path / "shm", tmp_path / "layouts"
    shm.mkdir()
    layouts.mkdir()
    monkeypatch.setattr(scratch, "SHM", str(shm))
    (shm / "ckpt_old_abc").mkdir()  # the engine's, but there before the run
    roots = {str(shm): scratch.listing(str(shm)), str(layouts): []}
    # during the run: the engine's leftovers, and other programs' entries
    (shm / "foreach_sink_x1y2").mkdir()
    (shm / "foreach_sink_x1y2" / "part-0.parquet").write_bytes(b"x" * 100)
    (shm / "ckpt_tumbling_q9").mkdir()
    (shm / "sem.other_program").write_bytes(b"")
    (shm / "pytest_ckpt").mkdir()
    (layouts / "lineitem_by_order").mkdir()

    assert scratch.leaks(roots) == (3, 100)
    assert scratch.remove_run_entries(roots) == 3
    assert sorted(scratch.listing(str(shm))) == ["ckpt_old_abc", "pytest_ckpt", "sem.other_program"]
    assert scratch.listing(str(layouts)) == []
