"""Session sizing: the master and partition count follow the cores
this process may use (pure functions, no JVM)."""

from __future__ import annotations

import os

import pytest

from investigraph_etl_spark.session import local_cores, local_heap, resolve_master


def test_local_cores_env_then_affinity():
    assert local_cores({"SPARK_GRAFT_CPUS": "3"}) == 3
    assert local_cores({}) == len(os.sched_getaffinity(0))
    assert local_cores({"SPARK_GRAFT_CPUS": ""}) == len(os.sched_getaffinity(0))


def test_local_heap_is_half_of_memtotal(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16456384 kB\nMemFree:  1 kB\n")
    assert local_heap(str(meminfo)) == "8035m"
    meminfo.write_text("MemTotal:       1048576 kB\n")
    assert local_heap(str(meminfo)) == "1024m"
    meminfo.write_text("MemFree:  1 kB\n")
    with pytest.raises(ValueError, match="MemTotal"):
        local_heap(str(meminfo))


def test_resolve_master_partitions_follow_master():
    assert resolve_master(None, 6) == ("local[6]", 6)
    assert resolve_master("local[2]", 6) == ("local[2]", 2)
    assert resolve_master("local[2,3]", 6) == ("local[2,3]", 2)
    assert resolve_master("local[*]", 6) == ("local[*]", 6)
    assert resolve_master("local", 6) == ("local", 1)
    assert resolve_master("spark://h:7077", 6) == ("spark://h:7077", 6)
