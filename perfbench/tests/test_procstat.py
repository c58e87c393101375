import subprocess
import sys

from perfbench import procstat


def test_reaped_child_cpu_still_counts():
    cpu = procstat.MonotoneCpu()
    before = cpu.read()
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    subprocess.run([sys.executable, "-c", burn], check=True)  # exits and is reaped
    after = cpu.read()
    assert after["driver"] - before["driver"] >= 0.25


def test_monotone_cpu_never_decreases():
    cpu = procstat.MonotoneCpu()
    cpu.last = {"driver": 1e9, "jvm": 0.0, "pyworker": 0.0}  # a read far above reality
    assert cpu.read()["driver"] == 1e9


def test_descendants_walks_the_tree():
    P = procstat.Proc
    procs = {
        1: P(1, 0, 1, "init", "S", 0, 0), 10: P(10, 1, 10, "python3", "S", 0, 0),
        11: P(11, 10, 10, "java", "S", 0, 0), 12: P(12, 11, 10, "python3", "S", 0, 0),
        13: P(13, 12, 10, "python3", "S", 0, 0), 20: P(20, 1, 1, "other", "S", 0, 0),
    }
    assert sorted(procstat.descendants(procs, 10)) == [11, 12, 13]
    assert procstat.jvm_pid(procs, 10) == 11
