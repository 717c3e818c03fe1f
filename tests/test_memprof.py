"""Memory sampler: PSS-based tree accounting (r06 — VmRSS summing
attributed the whole JVM heap to every transient COW fork it spawned,
overstating build peaks ~2-5x in bursts)."""

import os
import threading
import time

from sparkbm25.memprof import MemorySampler, _proc_tree_rss, _pss_bytes


def test_pss_available_and_sane():
    pss = _pss_bytes(os.getpid())
    assert pss is not None and pss > 1 * 1024 * 1024  # this test process


def test_sampler_sees_own_allocation():
    with MemorySampler(interval_s=0.02) as ms:
        base = ms.peak_bytes
        blob = bytearray(200 * 1024 * 1024)
        blob[::4096] = b"x" * len(blob[::4096])  # touch pages
        time.sleep(0.15)
    assert ms.peak_bytes - base > 150 * 1024 * 1024
    del blob


def test_tree_rss_excludes_shared_double_count():
    """A fork that touches nothing must add ~nothing to the tree sum
    (PSS apportions the shared pages) — the JVM-fork artifact fixed."""
    before = _proc_tree_rss(os.getpid())
    pid = os.fork()
    if pid == 0:
        time.sleep(1.0)
        os._exit(0)
    try:
        time.sleep(0.2)
        during = _proc_tree_rss(os.getpid())
        # parent ~tens of MB; the COW child must not double it — allow a
        # generous 40% margin for the halved apportioning of shared pages
        assert during < before * 1.4 + 20 * 1024 * 1024, (before, during)
    finally:
        os.waitpid(pid, 0)


def test_peak_mb_none_until_a_sweep_finishes(monkeypatch):
    """A window shorter than one tree sweep has no measured peak: peak_mb
    is None, not 0.0 (which would read as a real, tiny peak)."""
    import sparkbm25.memprof as memprof

    gate = threading.Event()

    def slow_sweep(pid):
        gate.wait(10.0)
        return 123 << 20

    monkeypatch.setattr(memprof, "_proc_tree_rss", slow_sweep)
    with MemorySampler(interval_s=0.02) as ms:
        assert ms.peak_mb is None
    assert ms.peak_mb is None  # __exit__'s bounded join gave up on it
    gate.set()
    ms._thread.join()
    assert ms.peak_mb == 123.0
