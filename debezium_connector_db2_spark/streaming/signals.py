"""Signal channel — runtime control processed *while streaming*.

The reference drives incremental snapshots, blocking snapshots and
pause/resume through a ``SignalProcessor`` polling a signal table (or
file/Kafka channel) between streaming events
(``Db2ConnectorTask.java:142-147``; end-to-end in
``IncrementalSnapshotIT.java:37-273`` and ``BlockingSnapshotIT.java:
24-164``: ``INSERT INTO <signal_table> (id, type, data) VALUES (...)``).

Here the channel is a directory of JSON files, one per signal, ordered by
a zero-padded sequence prefix: ``sig-<seq>-<uuid>.json`` containing
``{"id", "type", "data"}``.  Writers (any process) call ``send``; the
engine polls at the top of each micro-batch iteration and tracks what it
has consumed in its own checkpoint dir, so N engines can share one
channel (each signal addresses all of them, like the reference's one
signal table per connector).

Signal types understood by ``CdcEngine`` (the reference's actions):

* ``execute-snapshot``  data ``{"type": "incremental", "n_chunks": k}`` —
  chunked backfill interleaved with streaming (T8);
* ``execute-snapshot``  data ``{"type": "blocking"}`` — pause, full
  re-snapshot, resume (T7);
* ``pause`` / ``resume`` — stop/restart event dispatch;
* ``log``  data ``{"message": ...}`` — write a line to the notification
  channel (the reference's Log action).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field

from debezium_connector_db2_spark.streaming.checkpoint import write_atomic


@dataclass
class Signal:
    id: str
    type: str
    data: dict = field(default_factory=dict)


class SignalChannel:
    def __init__(self, path: str):
        self.dir = os.path.abspath(path)
        os.makedirs(self.dir, exist_ok=True)

    def send(self, type: str, data: dict | None = None) -> str:
        """Append a signal; returns its id.  The sequence prefix makes
        arrival order total even across writers (ties broken by uuid)."""
        seq = len([f for f in os.listdir(self.dir) if f.startswith("sig-")])
        sid = f"{seq:08d}-{uuid.uuid4().hex[:8]}"
        payload = {"id": sid, "type": type, "data": data or {}}
        write_atomic(os.path.join(self.dir, f"sig-{sid}.json"),
                     json.dumps(payload))
        return sid

    def poll(self) -> list[Signal]:
        """All signals in send order (consumers filter what they've seen)."""
        out = []
        for fn in sorted(os.listdir(self.dir)):
            if not (fn.startswith("sig-") and fn.endswith(".json")):
                continue
            with open(os.path.join(self.dir, fn)) as f:
                d = json.load(f)
            out.append(Signal(d["id"], d["type"], d.get("data") or {}))
        return out
