"""The benchmark's own sink endpoints: picklable callables that the
pipelines' ``foreachPartition`` sinks call on executor workers.

Each call appends one JSON record to a per-task file under ``out_dir``
(named by stage, partition, attempt and process), standing in for one
REST request.  ``t`` is ``time.monotonic_ns()``: CLOCK_MONOTONIC is one
clock for every process on the host, so driver-side checks can order
records written by different Python workers.
"""

from __future__ import annotations

import glob
import json
import os
import time


class Endpoint:
    def __init__(self, out_dir: str, kind: str):
        self.out_dir = out_dir
        self.kind = kind

    def _append(self, record: dict) -> None:
        from pyspark import TaskContext

        tc = TaskContext.get()
        name = (f"{self.kind}-s{tc.stageId()}-p{tc.partitionId()}"
                f"-a{tc.attemptNumber()}-{os.getpid()}.jsonl")
        record["t"] = time.monotonic_ns()
        with open(os.path.join(self.out_dir, name), "a") as f:
            f.write(json.dumps(record) + "\n")


class AclSender(Endpoint):
    """setAccessControl: receives {path, acl, owner, group, token}."""

    def __call__(self, req: dict) -> None:
        self._append({"path": req["path"], "acl": req["acl"],
                      "owner": req["owner"], "group": req["group"]})


class Creator(Endpoint):
    """mkdir for one directory."""

    def __call__(self, path: str) -> None:
        self._append({"path": path})


class Copier(Endpoint):
    """Copy of one file (the record stands for its bytes)."""

    def __call__(self, path: str, length: int) -> None:
        self._append({"path": path, "length": length})


def read_records(out_dir: str, prefix: str) -> list[dict]:
    """Every JSON line of the ``<prefix>-*.jsonl`` files in ``out_dir``:
    an endpoint's records, or (prefix ``part``) the program's own
    effects log."""
    out = []
    for fn in sorted(glob.glob(os.path.join(out_dir, f"{prefix}-*.jsonl"))):
        with open(fn) as f:
            out.extend(json.loads(line) for line in f)
    return out
