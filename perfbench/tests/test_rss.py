"""The sampler sees memory held by child processes while they run."""

import subprocess
import sys
import time

import rss

HOLD = ("import sys, time; b = bytearray(200 * 1024 * 1024); "
        "sys.stdout.write('ready\\n'); sys.stdout.flush(); time.sleep(30)")


def test_child_memory_counts_as_worker():
    child = subprocess.Popen([sys.executable, "-c", HOLD],
                             stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline() == "ready\n"
        now = rss.tree_pss_kb(rss.os.getpid())
        assert now["worker"] >= 190 * 1024
        assert now["jvm"] == 0
    finally:
        child.kill()
        child.wait(timeout=10)


def test_sampler_keeps_peak_after_child_exits():
    with rss.TreeSampler() as s:
        child = subprocess.Popen([sys.executable, "-c", HOLD],
                                 stdout=subprocess.PIPE, text=True)
        try:
            assert child.stdout.readline() == "ready\n"
            time.sleep(3 * rss.TreeSampler.INTERVAL_S)
        finally:
            child.kill()
            child.wait(timeout=10)
    assert s.peak_mb("worker") >= 190
    assert s.peak_mb() >= s.peak_mb("worker")
    assert rss.tree_pss_kb(rss.os.getpid())["worker"] < 190 * 1024
