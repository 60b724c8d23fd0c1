import os
import subprocess
import sys
import textwrap
import time

from perfbench.procstat import CLK_TCK, TreeSampler, parse_stat, wait_tree_gone


def stat_line(pid, comm, ppid, ticks, start=1000, state="S", rss=10):
    # fields after comm: state ppid pgrp session tty tpgid flags minflt cminflt
    # majflt cmajflt utime stime cutime cstime priority nice threads
    # itrealvalue starttime vsize rss
    utime, stime = ticks // 2, ticks - ticks // 2
    rest = [state, ppid, 0, 0, 0, 0, 0, 0, 0, 0, 0, utime, stime, 0, 0, 20, 0, 1, 0,
            start, 0, rss]
    return f"{pid} ({comm}) " + " ".join(str(x) for x in rest) + "\n"


class FakeProc:
    def __init__(self, root):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def put(self, pid, comm, ppid, ticks, **kw):
        d = os.path.join(self.root, str(pid))
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "stat"), "w") as fh:
            fh.write(stat_line(pid, comm, ppid, ticks, **kw))

    def drop(self, pid):
        os.remove(os.path.join(self.root, str(pid), "stat"))
        os.rmdir(os.path.join(self.root, str(pid)))


def test_parse_stat_comm_with_spaces_and_parens():
    st = parse_stat(stat_line(42, "py (worker) 1", 7, 300, start=555, rss=3))
    assert (st.pid, st.comm, st.ppid, st.cpu_ticks, st.starttime, st.rss_pages) == (
        42, "py (worker) 1", 7, 300, 555, 3)


def test_exited_and_reparented_workers_keep_counting(tmp_path):
    proc = FakeProc(str(tmp_path))
    proc.put(100, "python3", 1, 10)
    proc.put(101, "java", 100, 200)
    proc.put(102, "python3", 101, 5)        # pyspark daemon
    proc.put(103, "python3", 102, 400)      # worker
    proc.put(999, "unrelated", 1, 10_000)   # outside the tree
    s = TreeSampler(root_pid=100, proc=str(tmp_path))
    assert s.sample() == (10 + 200 + 5 + 400) / CLK_TCK

    # the worker exits after more work; its last reading stays counted
    proc.put(103, "python3", 102, 600)
    s.sample()
    proc.drop(103)
    assert s.sample() == (10 + 200 + 5 + 600) / CLK_TCK

    # the daemon is re-parented to init and forks a new worker: both count
    proc.put(102, "python3", 1, 50)
    proc.put(104, "python3", 102, 70)
    assert s.sample() == (10 + 200 + 50 + 600 + 70) / CLK_TCK
    assert sorted(s.live_pids()) == [101, 102, 104]


def test_pid_reuse_is_a_new_process(tmp_path):
    proc = FakeProc(str(tmp_path))
    proc.put(100, "python3", 1, 0)
    proc.put(103, "python3", 100, 400, start=1)
    s = TreeSampler(root_pid=100, proc=str(tmp_path))
    s.sample()
    proc.drop(103)
    s.sample()
    # an unrelated process gets the same pid later: not a member
    proc.put(103, "other", 1, 9_000, start=2)
    assert s.sample() == 400 / CLK_TCK


def test_rss_by_role_and_zombies(tmp_path):
    proc = FakeProc(str(tmp_path))
    proc.put(100, "python3", 1, 0, rss=256)
    proc.put(101, "java", 100, 0, rss=1024)
    proc.put(102, "python3", 101, 0, rss=512)
    proc.put(103, "python3", 102, 30, state="Z", rss=0)
    s = TreeSampler(root_pid=100, proc=str(tmp_path))
    s.sample()
    page_mb = os.sysconf("SC_PAGE_SIZE") / 2**20
    assert s.peak_rss_mb == {"driver": 256 * page_mb, "jvm": 1024 * page_mb,
                             "pyworkers": 512 * page_mb}
    assert s.peak_total_rss_mb == (256 + 1024 + 512) * page_mb
    assert sorted(s.live_pids()) == [101, 102]  # the zombie has ended
    assert s.sample() == 30 / CLK_TCK


def test_orphaned_grandchild_cpu_is_counted():
    """A middle process starts a busy grandchild and exits: the grandchild
    is re-parented out of the tree but its CPU still counts."""
    script = textwrap.dedent("""
        import subprocess, sys, time
        busy = "import time\\nt = time.process_time()\\nwhile time.process_time() - t < 1.0: pass"
        subprocess.Popen([sys.executable, "-c", busy])
        time.sleep(0.4)
    """)
    s = TreeSampler(interval_s=0.05)
    base = s.sample()
    s.start()
    try:
        mid = subprocess.Popen([sys.executable, "-c", script])
        mid.wait(timeout=30)
        deadline = time.monotonic() + 30
        while s.live_pids() and time.monotonic() < deadline:
            time.sleep(0.1)
        assert not s.live_pids()
    finally:
        s.stop()
    # the grandchild alone burned 1 s of CPU; allow for ticks lost at exit
    assert s.sample() - base >= 0.8


def test_wait_tree_gone_kills_leftovers():
    s = TreeSampler()
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    try:
        s.sample()
        assert child.pid in s.live_pids()
        killed = wait_tree_gone(s, timeout_s=0.5)
        assert killed == [child.pid]
        assert child.wait(timeout=10) == -9
    finally:
        if child.poll() is None:
            child.kill()
            child.wait()


def test_cpu_by_role_follows_exec(tmp_path):
    """spark-submit is a shell script that execs the JVM: same pid and start
    time, new name. Its CPU belongs to the JVM."""
    proc = FakeProc(str(tmp_path))
    proc.put(100, "python3", 1, 10)
    proc.put(101, "spark-submit", 100, 3)
    s = TreeSampler(root_pid=100, proc=str(tmp_path))
    s.sample()
    proc.put(101, "java", 100, 500)
    proc.put(102, "python3", 101, 40)
    s.sample()
    assert s.cpu_by_role() == {"driver": 10 / CLK_TCK, "jvm": 500 / CLK_TCK,
                               "pyworkers": 40 / CLK_TCK}
