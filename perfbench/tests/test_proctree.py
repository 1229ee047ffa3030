"""Process-tree walk and CPU accounting of ``perfbench.proctree``."""

import os
import subprocess
import sys

from perfbench.proctree import ProcTree, WorkerPeakSampler, _CLK_TCK


def _fake_proc(root, pid, ppid, ticks=(0, 0, 0, 0), comm="python", cmdline=b"", hwm_kb=0):
    d = root / str(pid)
    d.mkdir()
    utime, stime, cutime, cstime = ticks
    # fields 3.. of /proc/<pid>/stat: state ppid pgrp session tty tpgid
    # flags minflt cminflt majflt cmajflt utime stime cutime cstime ...
    rest = f"S {ppid} 0 0 0 0 0 0 0 0 0 {utime} {stime} {cutime} {cstime} 20 0 1 0"
    (d / "stat").write_text(f"{pid} ({comm}) {rest}\n")
    (d / "cmdline").write_bytes(cmdline)
    (d / "status").write_text(f"Name:\t{comm}\nVmHWM:\t  {hwm_kb} kB\nVmRSS:\t  1 kB\n")


def test_tree_walk_follows_parent_links(tmp_path):
    _fake_proc(tmp_path, 10, 1, ticks=(5, 1, 0, 0))
    _fake_proc(tmp_path, 11, 10, ticks=(7, 2, 3, 1), comm="java")
    _fake_proc(tmp_path, 12, 11, comm="odd ) name (", cmdline=b"python\0-m\0pyspark.daemon\0")
    _fake_proc(tmp_path, 13, 12, ticks=(100, 0, 0, 0), cmdline=b"python\0-m\0pyspark.daemon\0",
               hwm_kb=2048)
    _fake_proc(tmp_path, 20, 1, ticks=(999, 999, 0, 0))  # not ours
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    tree = ProcTree(root=10, proc=str(tmp_path))
    assert tree.members() == {10: 6, 11: 13, 12: 0, 13: 100}
    assert tree.cpu_seconds() == 119 / _CLK_TCK
    assert sorted(tree.worker_pids()) == [12, 13]
    sampler = WorkerPeakSampler(tree)
    sampler.sample()
    assert sampler.peak_mb == 2.0
    # restart forgets the peak and asks each worker to restart its own
    # mark (clear_refs value 5)
    sampler.restart()
    assert sampler.peak_mb == 0.0
    assert (tmp_path / "13" / "clear_refs").read_text() == "5"


def test_vanished_process_is_skipped(tmp_path):
    _fake_proc(tmp_path, 10, 1)
    (tmp_path / "11").mkdir()  # exited between listdir and open
    assert ProcTree(root=10, proc=str(tmp_path)).members() == {10: 0}


_CHILD = r"""
import subprocess, sys, time
burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
subprocess.run([sys.executable, "-c", burn], check=True)  # reaped here
sleeper = subprocess.Popen([sys.executable, "-c", "import sys; sys.stdin.read()"],
                           stdin=subprocess.PIPE)
print(sleeper.pid, flush=True)
sys.stdin.read()
sleeper.stdin.close()
sleeper.wait()
"""


def test_live_tree_counts_reaped_grandchildren():
    tree = ProcTree()
    before = tree.cpu_seconds()
    child = subprocess.Popen(
        [sys.executable, "-c", _CHILD], stdin=subprocess.PIPE, stdout=subprocess.PIPE
    )
    try:
        grandchild = int(child.stdout.readline())
        members = tree.members()
        assert child.pid in members and grandchild in members
        # the burner exited and was reaped by the child: its CPU now sits
        # in the child's cutime, still inside the tree
        assert tree.cpu_seconds() - before >= 0.25
    finally:
        child.stdin.close()
        child.wait(timeout=30)
    assert child.pid not in tree.members()
    assert tree.cpu_seconds() - before >= 0.25  # folded into our cutime
    assert os.getpid() in tree.members()
