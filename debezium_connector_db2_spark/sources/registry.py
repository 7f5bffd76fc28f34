"""Capture registry — the control plane (SURVEY.md §2.10 X1–X3, S7/S8).

The reference manages capture via server-side SQL procedures:
``ASNCDC.ADDTABLE`` creates the capture table + registers it in
``IBMSNAP_REGISTER`` (``asncdcaddremove.sql:62-193``), ``REMOVETABLE``
reverses it, and schema changes appear as a *second* capture instance for
the same source table with a start LSN, the old instance getting a stop
LSN (``Db2StreamingChangeEventSource.java:350-412``).

Here the registry is a small driver-side JSON manifest (durable atomic
replace on write) exposing the same operations, plus the S7/S8 scans as
DataFrames for the F4 stop-LSN filter.
"""

from __future__ import annotations

import json
import logging
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from debezium_connector_db2_spark.schemas import CAPTURE_REGISTRY_SCHEMA
from debezium_connector_db2_spark.streaming.checkpoint import write_atomic

_log = logging.getLogger(__name__)


class CaptureRegistry:
    def __init__(self, path: str):
        self.file = os.path.abspath(path)
        if not os.path.exists(self.file):
            self._write([])

    # -- storage ------------------------------------------------------------

    def _read(self) -> list[dict]:
        with open(self.file) as f:
            return json.load(f)

    def _write(self, entries: list[dict]) -> None:
        os.makedirs(os.path.dirname(self.file) or ".", exist_ok=True)
        write_atomic(self.file, json.dumps(entries, indent=1))

    # -- X2 / X3: register & deregister -------------------------------------

    def register_table(self, table: str, start_lsn: int = 0,
                       schema_version: int = 0) -> dict:
        """ASNCDC.ADDTABLE analogue: activate capture for a table."""
        entries = self._read()
        if any(e["table"] == table and e["state"] == "A" for e in entries):
            raise ValueError(f"table {table!r} already registered")
        entry = {
            "table": table,
            "capture_instance": f"{table}_v{schema_version}",
            "start_lsn": start_lsn,
            "stop_lsn": None,
            "schema_version": schema_version,
            "state": "A",
        }
        self._write(entries + [entry])
        return entry

    def deregister_table(self, table: str) -> None:
        """ASNCDC.REMOVETABLE analogue: deactivate all instances."""
        entries = self._read()
        if not any(e["table"] == table for e in entries):
            raise ValueError(f"table {table!r} not registered")
        for e in entries:
            if e["table"] == table:
                e["state"] = "I"
        self._write(entries)

    def switch_capture_instance(self, table: str, at_lsn: int,
                                schema_change: dict | None = None) -> dict:
        """Schema-change switch: stop the active instance at ``at_lsn``
        and open a new one with schema_version+1 (the two-capture-table
        dance of ``Db2StreamingChangeEventSource.java:374-389``).

        ``schema_change`` optionally records the DDL the new instance
        carries — ``{"action": "add_column"|"rename_column", "args":
        {...}}``.  Engines watching the registry (S8) pick it up and apply
        it at the switch LSN automatically, the way the reference builds
        its migration from the new capture instance's metadata
        (``Db2StreamingChangeEventSource.java:350-412``)."""
        entries = self._read()
        active = [e for e in entries
                  if e["table"] == table and e["state"] == "A"
                  and e["stop_lsn"] is None]
        if not active:
            raise ValueError(f"no active capture instance for {table!r}")
        old = max(active, key=lambda e: e["schema_version"])
        old["stop_lsn"] = at_lsn
        new = {
            "table": table,
            "capture_instance": f"{table}_v{old['schema_version'] + 1}",
            "start_lsn": at_lsn,
            "stop_lsn": None,
            "schema_version": old["schema_version"] + 1,
            "state": "A",
            "schema_change": schema_change,
        }
        self._write(entries + [new])
        return new

    # -- S7 / S8 scans -------------------------------------------------------

    def active_tables(self) -> list[str]:
        return sorted({e["table"] for e in self._read() if e["state"] == "A"})

    def entries(self) -> list[dict]:
        return self._read()

    def to_df(self, spark: SparkSession) -> DataFrame:
        """S7: the registry as a (broadcastable) DataFrame."""
        rows = [
            (e["table"], e["capture_instance"], e["start_lsn"], e["stop_lsn"],
             e["schema_version"], e["state"])
            for e in self._read()
        ]
        return spark.createDataFrame(rows, CAPTURE_REGISTRY_SCHEMA)

    def new_instances_in(self, from_lsn: int, to_lsn: int) -> list[dict]:
        """S8: capture instances whose start LSN falls inside the interval
        (=> a schema change is pending there,
        ``Db2Connection.java:341-360``)."""
        return [e for e in self._read()
                if from_lsn < e["start_lsn"] <= to_lsn and e["state"] == "A"]

    # -- X1: service control -------------------------------------------------

    def status(self) -> dict[str, Any]:
        """ASNCDCSERVICES('status') analogue."""
        entries = self._read()
        return {
            "tables": len({e["table"] for e in entries}),
            "active_instances": sum(1 for e in entries
                                    if e["state"] == "A" and e["stop_lsn"] is None),
            "stopped_instances": sum(1 for e in entries
                                     if e["stop_lsn"] is not None),
        }


#: Debezium core's exact warning text (DatabaseSchema.
#: NO_CAPTURED_DATA_COLLECTIONS_WARNING), asserted by
#: ``Db2ConnectorIT.java:718-735`` testEmptySchemaWarningAfterApplyingFilters.
NO_CAPTURED_TABLES_WARNING = (
    "After applying the include/exclude list filters, no changes will be "
    "captured. Please check your configuration!")


def captured_tables(registry: "CaptureRegistry",
                    include: list[str] | None = None,
                    exclude: list[str] | None = None,
                    notifications=None) -> list[str]:
    """The capture set after include/exclude filtering — and the
    reference's loud warning when it comes out empty
    (``Db2ConnectorIT.java:718-735``: a connector configured with a
    non-matching ``table.include.list`` runs but captures nothing; the
    warning is the only signal).  Emits to the log and, when a
    notification channel is given, as an aggregate-type
    ``Capture Filters`` notification."""
    tables = registry.active_tables()
    if include is not None:
        inc = set(include)
        tables = [t for t in tables if t in inc]
    if exclude is not None:
        exc = set(exclude)
        tables = [t for t in tables if t not in exc]
    if not tables:
        _log.warning(NO_CAPTURED_TABLES_WARNING)
        if notifications is not None:
            notifications.emit("Capture Filters", "EMPTY_CAPTURE_SET",
                               {"include": include, "exclude": exclude})
    return tables
