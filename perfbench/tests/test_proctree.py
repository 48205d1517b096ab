"""The process-tree sampler: /proc parsing, tree walk and live peak RSS."""

import os
import subprocess
import sys

from proctree import CLOCK_TICKS, PAGE_BYTES, ProcessTreeSampler, parse_stat, snapshot, wait_for_exit


def _stat(pid, comm, ppid, utime, stime, rss_pages):
    rest = ["S", str(ppid)] + ["0"] * 9 + [str(utime), str(stime)] + ["0"] * 8 + [str(rss_pages)]
    return f"{pid} ({comm}) " + " ".join(rest) + " 0 0\n"


def _fake_proc(root, procs):
    for pid, (comm, ppid, rss, argv0) in procs.items():
        d = root / str(pid)
        d.mkdir()
        (d / "stat").write_text(_stat(pid, comm, ppid, CLOCK_TICKS, CLOCK_TICKS, rss))
        (d / "cmdline").write_bytes(argv0.encode() + b"\0--flag\0")
    (root / "self").mkdir()  # non-numeric entries are ignored


def test_parse_stat_counts_fields_after_the_last_paren():
    ppid, cpu, rss = parse_stat(_stat(7, "odd) name (x", 3, 2 * CLOCK_TICKS, CLOCK_TICKS, 5))
    assert (ppid, cpu, rss) == (3, 3.0, 5 * PAGE_BYTES)


def test_snapshot_walks_only_the_tree(tmp_path):
    _fake_proc(
        tmp_path,
        {
            10: ("python3", 1, 100, "/usr/bin/python3"),
            11: ("java", 10, 1000, "/usr/lib/jvm/bin/java"),
            12: ("python3", 11, 50, "python3"),  # pyspark daemon under the JVM
            13: ("python3", 12, 40, "python3"),  # forked worker
            20: ("java", 1, 9999, "java"),  # not ours
        },
    )
    procs = {p.pid: p for p in snapshot(10, proc=str(tmp_path))}
    assert set(procs) == {10, 11, 12, 13}
    assert [procs[p].kind for p in (10, 11, 12, 13)] == ["bench", "jvm", "python_worker", "python_worker"]
    s = ProcessTreeSampler(root_pid=10, proc=str(tmp_path))
    s.sample()
    assert s.peak_rss_bytes == 1190 * PAGE_BYTES
    cpu = s.cpu_by_kind()
    assert cpu == {"bench": 2.0, "jvm": 2.0, "python_worker": 4.0}


def test_live_child_memory_is_counted():
    child = subprocess.Popen(
        [sys.executable, "-c", "import sys, time; b = bytearray(64 << 20); sys.stdout.write('ok\\n'); sys.stdout.flush(); time.sleep(30)"],
        stdout=subprocess.PIPE,
    )
    try:
        assert child.stdout.readline() == b"ok\n"
        with ProcessTreeSampler(interval=0.01) as s:
            procs = s.sample()
        own = sum(p.rss_bytes for p in procs if p.pid == os.getpid())
        assert child.pid in {p.pid for p in procs}
        assert s.peak_rss_bytes >= own + (64 << 20)
    finally:
        child.kill()
        child.wait(timeout=10)
    assert wait_for_exit([child.pid], timeout=5) == []
