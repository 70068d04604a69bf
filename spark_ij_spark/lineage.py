"""Per-image lineage log.

The reference attaches an ``ImageLog`` to every image: an append-only
list of ``LogEntry(opType, opTool, opVal, opArgs, children)`` that is
JSON-serializable and merges by nesting child logs on binary ops
(reference: ImagePlusIO.scala:16-18,115 and merge at :175-183; op-type
enums Spiji.java:230-236).

Rebuild: the log is an ``array<struct>`` column; ``children_json``
JSON-encodes nested logs because Spark structs cannot recurse (the
reference JSON-encodes logs across the SQL boundary for the same
reason, PipUDT.scala:43).
"""

from __future__ import annotations

import json
from typing import Any

# Op types mirroring the reference's PIPOps / PIPTools enums
OP_CREATE = "CREATE"
OP_LOAD = "LOAD"
OP_RUN = "RUN"
OP_MERGE = "MERGE"

TOOL_NUMPY = "NUMPY"


def log_entry(
    optype: str,
    opval: str,
    opargs: list[str] | None = None,
    optool: str = TOOL_NUMPY,
    children: list[list[dict[str, Any]]] | None = None,
) -> dict[str, Any]:
    """Build one lineage entry (a row of LOG_ENTRY_SCHEMA)."""
    return {
        "optype": optype,
        "optool": optool,
        "opval": opval,
        "opargs": [str(a) for a in (opargs or [])],
        "children_json": json.dumps(children) if children else None,
    }


def merge_logs(
    log_a: list[dict[str, Any]],
    log_b: list[dict[str, Any]],
    opval: str,
    opargs: list[str] | None = None,
) -> list[dict[str, Any]]:
    """Binary-op merge: a single MERGE entry whose children nest both
    parents' logs (reference shape tested by ImagePlusIOTests.scala:64-76).
    The logs are ``datamodel.log_of`` output and nest as given."""
    return [log_entry(OP_MERGE, opval, opargs, children=[log_a, log_b])]
