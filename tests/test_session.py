"""Machine-derived session defaults and the test-selection hook."""

from __future__ import annotations

import os
import subprocess
import sys

from flinkrealtimedatawarehouse_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _meminfo(tmp_path, avail_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {avail_kb * 2} kB\n"
                 f"MemFree:        {avail_kb // 2} kB\n"
                 f"MemAvailable:   {avail_kb} kB\n")
    return str(p)


def test_driver_memory_is_a_share_of_available_memory(tmp_path):
    gib = 1024 * 1024  # kB
    # 15 GiB available (a 4-core / 15 GiB box): 40% -> 6 GiB heap
    assert session.default_driver_memory(_meminfo(tmp_path, 15 * gib)) == "6144m"
    # small boxes keep a 1 GiB floor, large ones the old 16 GiB ceiling
    assert session.default_driver_memory(_meminfo(tmp_path, gib)) == "1024m"
    assert session.default_driver_memory(_meminfo(tmp_path, 256 * gib)) == "16384m"


def test_cpu_defaults_fall_back_to_the_machine():
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    out = subprocess.run(
        [sys.executable, "-c",
         "from flinkrealtimedatawarehouse_spark import session; "
         "print(session.DEFAULT_SHUFFLE_PARTITIONS)"],
        cwd=ROOT, env=env, capture_output=True, text=True, check=True,
    )
    assert int(out.stdout) == os.cpu_count()


def test_node_id_selects_a_slow_test():
    """``pytest.ini``'s ``-m "not slow"`` deselects by default; naming a
    slow test by node id must still run it (collect it, here), while a
    directory run keeps deselecting it."""
    node = ("tests/test_streaming.py::"
            "test_auto_compaction_bounds_postings_layout")

    def collect(*args):
        return subprocess.run(
            [sys.executable, "-m", "pytest", "--collect-only", "-q",
             "-p", "no:cacheprovider", *args],
            cwd=ROOT, capture_output=True, text=True,
        )

    by_id = collect(node)
    assert by_id.returncode == 0, by_id.stdout + by_id.stderr
    assert node in by_id.stdout
    by_file = collect("tests/test_streaming.py")
    assert node not in by_file.stdout
    explicit = collect(node, "-m", "not slow")
    assert explicit.returncode == 5  # an explicit -m still deselects
