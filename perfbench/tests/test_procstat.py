"""Process-tree accounting against children whose work is known."""

import subprocess
import sys

import procstat

# Spins until it has used ``secs`` of CPU of its own.
SPIN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {secs}: pass\n"

# Poses as the JVM: spins, then runs a worker that spins and exits (so it is
# reaped into the "JVM"'s children CPU), then reports and waits for stdin.
FAKE_JVM = SPIN.format(secs=0.6) + (
    "import subprocess, sys\n"
    "subprocess.run([sys.executable, '-c', {worker!r}], check=True)\n"
    "print('ready', flush=True)\n"
    "sys.stdin.read()\n"
).format(worker=SPIN.format(secs=0.8))

HOLD_200MB = (
    "import sys\n"
    "buf = bytearray(200 << 20)\n"
    "for i in range(0, len(buf), 4096): buf[i] = 1\n"
    "print('ready', flush=True)\n"
    "sys.stdin.read()\n"
)


def _run_until_ready(argv):
    child = subprocess.Popen(argv, stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    assert child.stdout.readline() == b"ready\n"
    return child


def _finish(child):
    child.stdin.close()
    child.wait(timeout=30)
    child.stdout.close()
    assert child.returncode == 0


def test_cpu_is_split_into_jvm_and_its_workers(tmp_path):
    java = tmp_path / "java"
    java.symlink_to(sys.executable)
    before = procstat.cpu_by_group()
    child = _run_until_ready([str(java), "-c", FAKE_JVM])
    during = procstat.cpu_delta(before, procstat.cpu_by_group())
    _finish(child)
    after = procstat.cpu_delta(before, procstat.cpu_by_group())

    assert 0.55 <= during["jvm"] <= 0.9
    assert 0.75 <= during["pyworker"] <= 1.1
    # once the fake JVM itself is reaped, its whole tree lands in "other"
    # and nothing is lost or counted twice
    assert abs(sum(after.values()) - sum(during.values())) < 0.2
    assert 1.3 <= after["other"] <= 2.0


def test_peak_rss_sees_a_child_holding_memory():
    base = procstat.tree_rss_bytes()
    with procstat.RssSampler(interval_s=0.02) as rss:
        child = _run_until_ready([sys.executable, "-c", HOLD_200MB])
        held = procstat.tree_rss_bytes() - base
        _finish(child)
    assert held >= 190 << 20
    assert rss.peak_bytes - base >= 190 << 20
    assert procstat.tree_rss_bytes() - base < 50 << 20


def test_rss_counts_a_clone_that_has_not_exec_d_once():
    jvm = "700000 650000 5000 3 0 600000 0\n"
    statm = {1: "1000 200 50 3 0 150 0\n", 2: jvm, 3: jvm, 4: "900 120 40 3 0 80 0\n"}
    parent = {1: 0, 2: 1, 3: 2, 4: 2}
    assert procstat.rss_sum(statm, parent) == 200 + 650000 + 120

