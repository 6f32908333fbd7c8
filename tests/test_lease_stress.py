"""Multi-process stress of lease.DirLease: the mutual-exclusion
property every fence in the repo rests on (funnel checkpoint, extract
lineage, index maintenance, stream lifetime), exercised the way the
unit tests cannot — real concurrent processes hammering one lock dir,
including SIGKILLed holders mid-critical-section."""

import os
import subprocess
import sys
import tempfile

from latex_ocr_spark.paths import REPO_ROOT

_WORKER = r"""
import json, os, sys, time
from latex_ocr_spark.lease import DirLease

d, log_path, n_rounds = sys.argv[1], sys.argv[2], int(sys.argv[3])
pid = os.getpid()
acquired = 0
for i in range(n_rounds):
    lease = DirLease(d, role="stress")
    try:
        lease.acquire(retry_seconds=20)
    except RuntimeError:
        continue
    try:
        # critical section: append enter/exit markers; any interleaving
        # of two processes' sections is a mutual-exclusion violation
        with open(log_path, "a") as f:
            f.write(f"enter {pid}\n"); f.flush()
        time.sleep(0.002)
        with open(log_path, "a") as f:
            f.write(f"exit {pid}\n"); f.flush()
        acquired += 1
    finally:
        lease.release()
print(acquired)
"""


def test_lease_mutual_exclusion_under_process_contention():
    d = tempfile.mkdtemp(prefix="lease_stress_")
    log_path = os.path.join(d, "log.txt")
    n_procs, n_rounds = 6, 25
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _WORKER, d, log_path, str(n_rounds)],
            stdout=subprocess.PIPE, text=True, cwd=REPO_ROOT,
        )
        for _ in range(n_procs)
    ]
    total = 0
    for p in procs:
        out, _ = p.communicate(timeout=120)
        assert p.returncode == 0
        total += int(out.strip())
    # liveness: contention must not starve everyone
    assert total >= n_procs * n_rounds * 0.5, total

    # safety: enter/exit strictly alternate with matching pids
    inside = None
    with open(log_path) as f:
        for line in f:
            op, pid = line.split()
            if op == "enter":
                assert inside is None, f"overlap: {pid} entered while {inside} inside"
                inside = pid
            else:
                assert inside == pid, f"exit {pid} while {inside} inside"
                inside = None
    assert inside is None


def test_lease_survives_sigkilled_holder_mid_section():
    """A holder SIGKILLed inside its critical section must not block
    the next acquirer (kernel releases the flock) — the crash-recovery
    property the stale-break-free design is built on."""
    import signal
    import time

    from latex_ocr_spark.lease import DirLease, probe

    d = tempfile.mkdtemp(prefix="lease_kill_")
    holder = subprocess.Popen(
        [sys.executable, "-c", f"""
import time
from latex_ocr_spark.lease import DirLease
DirLease({d!r}, role="victim").acquire()
print("HELD", flush=True)
time.sleep(60)
"""],
        stdout=subprocess.PIPE, text=True, cwd=REPO_ROOT,
    )
    assert holder.stdout.readline().strip() == "HELD"
    assert probe(d)[0] == "held"
    os.kill(holder.pid, signal.SIGKILL)
    holder.wait()
    time.sleep(0.1)
    # dead holder's payload file is still on disk, flock is gone
    assert os.path.exists(os.path.join(d, "_lock"))
    lease = DirLease(d, role="successor").acquire(retry_seconds=5)
    lease.release()
    assert probe(d)[0] == "free"
