"""Self-tests for the benchmark's own code.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import subprocess
import sys

import pytest

from perfbench import eventlog, expected, gen, host
from perfbench.common import tail
from perfbench.gen import Reading


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for f in sorted(os.listdir(path)):
        with open(os.path.join(path, f), "rb") as fh:
            h.update(f.encode() + fh.read())
    return h.hexdigest()


def test_trip_generators_are_deterministic(tmp_path):
    a = gen.write_batch_trips(str(tmp_path / "a"), 7, 50, 20, 3)
    b = gen.write_batch_trips(str(tmp_path / "b"), 7, 50, 20, 3)
    c = gen.write_batch_trips(str(tmp_path / "c"), 8, 50, 20, 3)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    assert a.readings == b.readings and a.valid == a.lines == 50 * 20

    s1 = gen.write_stream_trips(str(tmp_path / "s1"), 7, 20, 40, 4, 60)
    s2 = gen.write_stream_trips(str(tmp_path / "s2"), 7, 20, 40, 4, 60)
    s3 = gen.write_stream_trips(str(tmp_path / "s3"), 8, 20, 40, 4, 60)
    assert _digest(str(tmp_path / "s1")) == _digest(str(tmp_path / "s2"))
    assert _digest(str(tmp_path / "s1")) != _digest(str(tmp_path / "s3"))
    # the counts do not depend on the seed, only the content does
    assert (s1.late, s1.duplicates, s1.invalid) == (5, 20, 8)
    assert s1.valid == s3.valid == 20 * (40 + 1 + 1) + 5 + 1
    assert s1.lines == s1.valid + s1.invalid


def test_table_generator_is_deterministic(tmp_path):
    import pyarrow.parquet as pq

    r1 = gen.write_tables(str(tmp_path / "a"), 3, 0.001)
    r2 = gen.write_tables(str(tmp_path / "b"), 3, 0.001)
    assert r1 == r2 and r1["lineitem"] == 6000
    for name in r1:
        ta = pq.read_table(str(tmp_path / "a" / f"{name}.parquet"))
        tb = pq.read_table(str(tmp_path / "b" / f"{name}.parquet"))
        assert ta.equals(tb), name


def test_timestamps_use_real_datetime_arithmetic(tmp_path):
    # a trip that runs past the hour keeps valid minutes (never ':60:')
    line = gen._data_line(Reading(1, 1504245600 + 3 * 3600 + 59 * 60 + 61, 1.0, 2.0, 3), gen.OFFSETS[0])
    body = json.loads(line)["body"]
    assert body["timestamp"] == "2017-09-01T05:00:01-05:00"


def _fixture_trip1() -> list[Reading]:
    """Trip 1 of the repo's 20-line trip fixture, in arrival order: a
    conflicting reading at an already-seen timestamp (ignored: the first
    arrival wins), an out-of-order reading, and a speed-only reading."""
    pts = [(0, 19.40, -99.10, 60), (10, 19.41, -99.11, 55), (20, 19.42, -99.12, 3),
           (30, 19.42, -99.12, 2), (40, 19.42, -99.12, 4), (50, 19.43, -99.13, 45)]
    rs = [Reading(1, t, la, lo, sp) for t, la, lo, sp in pts]
    rs.append(Reading(1, 10, 80.0, 80.0, 200))
    rs.append(Reading(1, 12, 19.415, -99.115, 50))
    rs.append(Reading(1, 55, None, None, 40))
    return rs


def test_expected_row_on_hand_built_trip():
    row = expected.trip_row(1, "VIN00001", _fixture_trip1(), other_rows=2)
    assert (row["total_s"], row["stopped_s"], row["moving_s"]) == (55, 20, 35)
    assert row["n_events"] == 11
    path = [(19.40, -99.10), (19.41, -99.11), (19.415, -99.115), (19.42, -99.12),
            (19.42, -99.12), (19.42, -99.12), (19.43, -99.13)]
    want = sum(expected.haversine_km(*path[i - 1], *path[i]) for i in range(1, len(path)))
    assert math.isclose(row["distance_km"], want, abs_tol=1e-12)


def test_compare_counts_each_kind_of_failure():
    want = {1: expected.trip_row(1, "V1", _fixture_trip1(), 2)}
    good = dict(want[1])
    assert expected.compare(want, [good])[:2] == (1, 0)
    assert expected.compare(want, [])[:2] == (1, 1)  # missing
    assert expected.compare(want, [good, good])[:2] == (1, 1)  # repeated
    assert expected.compare(want, [dict(good, stopped_s=19)])[:2] == (1, 1)
    assert expected.compare(want, [dict(good, distance_km=good["distance_km"] + 1e-9)])[:2] == (1, 0)
    assert expected.compare(want, [dict(good, distance_km=good["distance_km"] + 1e-5)])[:2] == (1, 1)


def test_tail_rule():
    xs = list(range(1, 31))
    v, p, n = tail(xs)
    assert (v, n) == (20.0, 30) and sum(x > v for x in xs) == 10 and p == pytest.approx(66.7)
    assert tail([5.0, 1.0, 3.0]) == (3.0, 50.0, 3)


def test_host_cpu_keeps_time_of_ended_children():
    # a child that burns CPU and ends inside the window stays our own
    c = host.Contention()
    subprocess.run(
        [sys.executable, "-c", "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.6: pass"],
        check=True,
    )
    out = c.stop()
    assert out["own_cpu_s"] >= 0.5


def test_event_log_counts_on_tiny_queries(tmp_path):
    from flink_template_spark.session import get_spark

    text = tmp_path / "five.txt"
    text.write_text("a\nb\nc\nd\ne\n")
    log_dir = str(tmp_path / "log")
    conf = {**eventlog.conf(log_dir), "spark.sql.adaptive.enabled": "false"}
    spark = get_spark(app_name="perfbench-selftest", master="local[2]", shuffle_partitions=3, extra_conf=conf)
    try:
        sc = spark.sparkContext
        sc.setLocalProperty(eventlog.SPAN_PROP, "scan")
        spark.read.text(str(text)).write.format("noop").mode("overwrite").save()
        sc.setLocalProperty(eventlog.SPAN_PROP, "shuffle")
        spark.range(0, 100, 1, 4).repartition(3).write.format("noop").mode("overwrite").save()
        sc.setLocalProperty(eventlog.SPAN_PROP, None)
    finally:
        spark.stop()
    counts = eventlog.read(log_dir)
    scan, shuf = counts["scan"], counts["shuffle"]
    assert (scan["jobs"], scan["stages"], scan["tasks"], scan["input_records"]) == (1, 1, 1, 5)
    assert scan["input_bytes"] == len("a\nb\nc\nd\ne\n")
    assert (shuf["jobs"], shuf["stages"], shuf["tasks"]) == (1, 2, 7)
    assert shuf["shuffle_write_bytes"] > 0 and shuf["failed_tasks"] == 0
    both = eventlog.total(counts, ["scan", "shuffle"])
    assert both["tasks"] == 8
