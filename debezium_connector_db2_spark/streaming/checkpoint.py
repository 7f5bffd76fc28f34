"""Resumable offset checkpoint — the reference's offset map
(``Db2OffsetContext.java:66-80``: commit_lsn + change_lsn + event_serial_no)
rendered as an atomically-replaced JSON file (``write_atomic``).

The position is ``(commit_lsn, intent_seq)`` — exact, so restart filtering
(F2/F3) is a tuple compare rather than a serial-number replay count.
``epoch`` is the micro-batch counter; ``batch_id`` of the last applied
batch links the checkpoint to the lake table's idempotent commit record,
closing the crash window between sink commit and checkpoint write
(SURVEY.md §7 "what's hard").

The offset is also the engine's one record of its applied batches: it
carries the running counters ``CdcEngine.metrics`` reports (the
reference's ``IBMSNAP_CAPMON`` monitoring row), and they advance in the
same atomic write as the position.  A batch whose checkpoint was never
written has counted nothing, so its replay counts it once.  An
``offset.json`` written before the counters existed loads with them
zeroed.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import asdict, dataclass
from typing import Callable


@dataclass
class Offset:
    commit_lsn: int = 0
    intent_seq: int = -1
    epoch: int = 0
    snapshot_completed: bool = False
    last_batch_id: str | None = None
    #: running totals over the applied batches: keys applied, highest
    #: applied commit LSN, max event ``ts`` (epoch microseconds) and the
    #: highest epoch that applied a key
    events_applied: int = 0
    max_applied_lsn: int | None = None
    watermark: int | None = None
    last_epoch: int | None = None


class Checkpoint:
    def __init__(self, path: str):
        self.dir = os.path.abspath(path)
        os.makedirs(self.dir, exist_ok=True)
        self.file = os.path.join(self.dir, "offset.json")

    def read(self) -> Offset:
        if not os.path.exists(self.file):
            return Offset()
        with open(self.file) as f:
            return Offset(**json.load(f))

    def write(self, offset: Offset) -> None:
        write_atomic(self.file, json.dumps(asdict(offset)))


def _durable_temp(path: str, text: str) -> str:
    """Write ``text`` to a fresh hidden temp file next to ``path`` and
    fsync it; returns the temp path.  Same directory, so publishing it
    under ``path`` is a rename or link within one file system."""
    head, name = os.path.split(os.path.abspath(path))
    tmp = os.path.join(head, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    return tmp


def write_atomic(path: str, text: str) -> None:
    """Durably replace ``path`` with ``text``: readers see the old
    content or the new, never a torn file, and the new bytes are on disk
    before the name points at them.  The one writer of every small state
    file (offsets, manifests and the version pointer, registry, signals,
    the pause marker, consumer-group offsets)."""
    tmp = _durable_temp(path, text)
    try:
        os.replace(tmp, path)  # atomic on POSIX
    except BaseException:
        os.remove(tmp)
        raise


def create_or_adopt(path: str, make_value: Callable[[], str]) -> str:
    """Write-once id file: the first caller creates ``path`` holding
    ``make_value()``; every caller — racing or later — returns the file's
    content, so all of them agree on one value.

    The value is written to a private temp file and published with
    ``os.link``, which, like ``O_CREAT|O_EXCL``, fails if ``path``
    exists, but makes the file appear already complete: a racing reader
    never sees it empty.  (A rename would overwrite: the last writer
    would win, and an early reader could keep a value its peers never
    see.)
    """
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        tmp = _durable_temp(path, make_value())
        try:
            os.link(tmp, path)
        except FileExistsError:
            pass  # a racing caller won: adopt its value
        finally:
            os.remove(tmp)
    with open(path) as f:
        return f.read().strip()
