"""Resumable offset checkpoint — the reference's offset map
(``Db2OffsetContext.java:66-80``: commit_lsn + change_lsn + event_serial_no)
rendered as an atomically-replaced JSON file.

The position is ``(commit_lsn, intent_seq)`` — exact, so restart filtering
(F2/F3) is a tuple compare rather than a serial-number replay count.
``epoch`` is the micro-batch counter; ``batch_id`` of the last applied
batch links the checkpoint to the lake table's idempotent commit record,
closing the crash window between sink commit and checkpoint write
(SURVEY.md §7 "what's hard").
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

    def position(self) -> tuple[int, int]:
        return (self.commit_lsn, self.intent_seq)


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
        tmp = os.path.join(self.dir, f".offset.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(asdict(offset), f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self.file)  # atomic on POSIX


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
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            f.write(make_value())
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError:
            pass  # a racing caller won: adopt its value
        finally:
            os.remove(tmp)
    with open(path) as f:
        return f.read().strip()
