"""The wire_ingest generator schedule, lateness report and the attribution
of files to the drive that landed them."""

import json
import os

import pytest

from perfbench import wire


def _write_log(path, batch_entries):
    with open(path, "w") as f:
        f.write("v1\n")
        for name, batch in batch_entries:
            f.write(json.dumps({"path": f"file:///w/in/{name}", "timestamp": 1,
                                "batchId": batch}) + "\n")


def test_schedule_is_seeded_and_keeps_the_offered_rate():
    a, b = wire.schedule(7, 200, 8.0), wire.schedule(7, 200, 8.0)
    assert a == b
    assert a != wire.schedule(8, 200, 8.0)
    gap = 1 / 8.0
    for i, due in enumerate(a):  # each file stays in its own slot
        assert i * gap <= due <= (i + 1) * gap
    assert a == sorted(a)


class _FakeClock:
    def __init__(self, stall_at=None, stall=0.0):
        self.now, self.calls, self.stall_at, self.stall = 100.0, 0, stall_at, stall

    def clock(self):
        return self.now

    def sleep(self, seconds):
        self.calls += 1
        self.now += seconds + (self.stall if self.calls == self.stall_at else 0.0)


def _staged(tmp_path, n):
    src, dst = tmp_path / "staged", tmp_path / "in"
    src.mkdir()
    dst.mkdir()
    paths = []
    for i in range(n):
        p = src / f"wire-{i:05d}.jsonl"
        p.write_text("{}\n")
        paths.append(str(p))
    return paths, str(dst)


def test_dropper_on_time_reports_no_lateness(tmp_path):
    paths, dst = _staged(tmp_path, 4)
    fake = _FakeClock()
    d = wire.Dropper(paths, [0.1, 0.2, 0.3, 0.4], dst, t0=100.0,
                     clock=fake.clock, sleep=fake.sleep)
    d.run()
    assert sorted(os.listdir(dst)) == [os.path.basename(p) for p in paths]
    rep = d.lateness_report()
    assert rep["files"] == 4 and rep["over_10ms"] == 0
    assert rep["max_s"] == pytest.approx(0.0, abs=1e-9)


def test_dropper_reports_a_stall_and_the_files_it_delayed(tmp_path):
    paths, dst = _staged(tmp_path, 4)
    fake = _FakeClock(stall_at=2, stall=0.25)  # the second wait overshoots
    d = wire.Dropper(paths, [0.1, 0.2, 0.3, 0.4], dst, t0=100.0,
                     clock=fake.clock, sleep=fake.sleep)
    d.run()
    late = d.late
    assert late[0] == pytest.approx(0.0, abs=1e-9)
    assert late[1] == pytest.approx(0.25)
    # the next due time had already passed: sent at once, still late
    assert late[2] == pytest.approx(0.15)
    assert late[3] == pytest.approx(0.05)
    rep = d.lateness_report()
    assert rep["max_s"] == pytest.approx(0.25) and rep["over_10ms"] == 3


def test_source_log_reads_plain_and_compact_files(tmp_path):
    src = tmp_path / "ckpt" / "sources" / "0"
    src.mkdir(parents=True)
    _write_log(src / "9.compact", [(f"f{i}", i) for i in range(10)])
    _write_log(src / "10", [("f10", 10), ("f11", 10)])
    (src / ".10.crc").write_text("")
    got = wire.source_log_batches(str(tmp_path / "ckpt"))
    assert got == {**{f"f{i}": i for i in range(10)}, "f10": 10, "f11": 10}


def test_last_committed_batch(tmp_path):
    ckpt = tmp_path / "ckpt"
    assert wire.last_committed_batch(str(ckpt)) == -1
    (ckpt / "commits").mkdir(parents=True)
    for n in ("0", "1", "4", ".4.crc"):
        (ckpt / "commits" / n).write_text("v1\n{}")
    assert wire.last_committed_batch(str(ckpt)) == 4


def test_attribute_maps_each_file_to_the_drive_that_committed_its_batch():
    file_batch = {"a": 0, "b": 0, "c": 1, "d": 2, "e": 3, "late": 5}
    # drive 0 committed batch 0, drive 1 found nothing new, drive 2
    # committed batches 1-2, drive 3 committed batch 3; batch 5 never did
    got = wire.attribute(file_batch, [0, 0, 2, 3])
    assert got == {"a": 0, "b": 0, "c": 2, "d": 2, "e": 3}


def test_rows_of_file_leaves_out_the_dropped_slots():
    from perfbench import workloads

    per_file = workloads.WIRE_MSGS_PER_FILE
    dropped = per_file // 50 * len(wire.DROPPED_SLOTS)
    assert workloads._rows_of_file(0) == per_file - dropped
    # a file that starts mid-cycle still holds whole cycles of 50
    assert workloads._rows_of_file(25) == per_file - dropped
