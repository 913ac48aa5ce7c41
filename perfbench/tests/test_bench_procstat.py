import os
import subprocess
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import procstat  # noqa: E402


def _stat(pid, comm, ppid, utime, stime, cutime=0, cstime=0):
    # fields 3..17 of /proc/<pid>/stat: state ppid pgrp session tty_nr
    # tpgid flags minflt cminflt majflt cmajflt utime stime cutime cstime
    rest = ["S", ppid, pid, pid, 0, -1, 0, 0, 0, 0, 0, utime, stime, cutime, cstime]
    return f"{pid} ({comm}) " + " ".join(str(x) for x in rest) + " 20 0 1 0\n"


def _fake_proc(tmp_path, procs):
    for pid, line in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(line)
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    return str(tmp_path)


def test_parse_stat_handles_spaces_and_parens_in_the_name():
    pid, ppid, ticks = procstat.parse_stat(_stat(42, "java (x) y", 7, 10, 5, 3, 2))
    assert (pid, ppid, ticks) == (42, 7, 20)


def test_tree_sum_covers_descendants_and_reaped_children_only(tmp_path):
    tck = procstat.CLK_TCK
    proc = _fake_proc(tmp_path, {
        100: _stat(100, "python3", 1, 1 * tck, 0, cutime=2 * tck),   # reaped workers
        101: _stat(101, "java", 100, 10 * tck, 2 * tck),
        102: _stat(102, "python3 -m daemon", 101, 1 * tck, 0, cstime=4 * tck),
        103: _stat(103, "worker", 102, 0, 1 * tck),
        200: _stat(200, "neighbour", 1, 50 * tck, 50 * tck),
    })
    assert procstat.tree_cpu_seconds(100, proc) == pytest.approx(1 + 2 + 12 + 5 + 1)
    assert procstat.tree_cpu_seconds(102, proc) == pytest.approx(6)
    assert procstat.tree_cpu_seconds(999, proc) == 0.0


def test_tree_sum_counts_a_process_under_two_roots_once(tmp_path):
    tck = procstat.CLK_TCK
    proc = _fake_proc(tmp_path, {
        100: _stat(100, "python3", 1, 1 * tck, 0),
        101: _stat(101, "java", 100, 10 * tck, 0),
        300: _stat(300, "java", 1, 7 * tck, 0),   # a JVM outside the tree
    })
    assert procstat.tree_cpu_seconds([100, 101], proc) == pytest.approx(11)
    assert procstat.tree_cpu_seconds([100, 300], proc) == pytest.approx(18)


def test_thread_sum_picks_named_threads_and_their_own_time_only(tmp_path):
    tck = procstat.CLK_TCK
    task = tmp_path / "101" / "task"
    threads = {
        101: _stat(101, "java", 100, 1 * tck, 0, cutime=50 * tck),
        102: _stat(102, "C2 CompilerThre", 100, 3 * tck, 1 * tck, cutime=50 * tck),
        103: _stat(103, "C1 CompilerThre", 100, 2 * tck, 0, cutime=50 * tck),
        104: _stat(104, "Executor task l", 100, 9 * tck, 0, cutime=50 * tck),
    }
    for tid, line in threads.items():
        (task / str(tid)).mkdir(parents=True)
        (task / str(tid) / "stat").write_text(line)
    got = procstat.threads_cpu_seconds(101, procstat.JIT_THREADS, str(tmp_path))
    assert got == pytest.approx(6)
    assert procstat.threads_cpu_seconds(999, procstat.JIT_THREADS, str(tmp_path)) == 0.0


def test_self_pid_is_this_process():
    assert procstat.self_pid() == os.getpid()


def test_tree_sum_sees_a_live_child_burn_cpu():
    before = procstat.tree_cpu_seconds()
    child = subprocess.Popen(
        [sys.executable, "-c", "import time\nt=time.process_time()\n"
         "while time.process_time()-t<0.6: pass\ntime.sleep(5)"])
    try:
        deadline = time.time() + 10
        while time.time() < deadline:
            if procstat.tree_cpu_seconds() - before >= 0.5:
                break
            time.sleep(0.1)
        assert procstat.tree_cpu_seconds() - before >= 0.5
    finally:
        child.kill()
        child.wait()
    # once reaped, the child's time moves into this process's cutime
    assert procstat.tree_cpu_seconds() - before >= 0.5


def test_host_window_reads_steal(tmp_path):
    before = {"user": 100, "nice": 0, "system": 50, "idle": 800, "iowait": 0,
              "irq": 0, "softirq": 0, "steal": 50}
    after = dict(before, user=150, idle=1000, steal=100)
    got = procstat.host_window(before, after)
    assert got["steal_s"] == pytest.approx(50 / procstat.CLK_TCK)
    assert got["steal_share"] == pytest.approx(50 / 300)
    (tmp_path / "stat").write_text("cpu  1 2 3 4 5 6 7 8 0 0\ncpu0 1 2 3 4 5 6 7 8 0 0\n")
    (tmp_path / "loadavg").write_text("0.50 1.25 2.00 1/100 12345\n")
    assert procstat.host_cpu(str(tmp_path))["steal"] == 8
    assert procstat.loadavg(str(tmp_path)) == [0.5, 1.25, 2.0]
