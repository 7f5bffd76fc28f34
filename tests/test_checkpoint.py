"""The offset checkpoint as a file, without Spark: an ``offset.json``
written before the batch counters existed still loads, and an offset
with counters survives a write/read round trip."""

import json
import os

from debezium_connector_db2_spark.streaming.checkpoint import (
    Checkpoint,
    Offset,
)


def test_offset_without_counters_loads_with_zeroed_counters(tmpdir_path):
    ck = Checkpoint(tmpdir_path)
    with open(os.path.join(tmpdir_path, "offset.json"), "w") as f:
        json.dump({"commit_lsn": 42, "intent_seq": 2**62, "epoch": 3,
                   "snapshot_completed": True,
                   "last_batch_id": "cdc-transcripts-40-7-42"}, f)
    off = ck.read()
    assert (off.commit_lsn, off.intent_seq, off.epoch) == (42, 2**62, 3)
    assert off.snapshot_completed and off.last_batch_id == "cdc-transcripts-40-7-42"
    assert off.events_applied == 0
    assert off.max_applied_lsn is None and off.watermark is None
    assert off.last_epoch is None


def test_offset_with_counters_round_trips(tmpdir_path):
    ck = Checkpoint(tmpdir_path)
    off = Offset(commit_lsn=42, intent_seq=2**62, epoch=3,
                 snapshot_completed=True, last_batch_id="b",
                 events_applied=17, max_applied_lsn=41,
                 watermark=1_767_225_600_000_001, last_epoch=2)
    ck.write(off)
    assert ck.read() == off
    assert os.listdir(tmpdir_path) == ["offset.json"]
