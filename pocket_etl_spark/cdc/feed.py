"""Change-feed consumption: a durable cursor over ``ParquetLakeTable.read_changes``.

The lake side (lake.py) gives incremental reads by commit version; this module
gives downstream pipelines the consume loop: poll the window since the last
committed cursor, process it, commit the new position. At-least-once by
construction — a crash between processing and ``commit()`` re-delivers the same
window on restart, and because change rows are keyed LWW facts (upsert/delete
with commit version), re-applying them downstream is idempotent — the same
replay-safety argument as the ingest side's batch-id fencing (lake.py merge).

This mirrors how the reference's SQS extractor consumes its queue: claim a
batch, process, delete-on-commit (SqsExtractor.java:115-126,239-247) — with the
lake's version counter playing the queue cursor.
"""

from __future__ import annotations

import fcntl
import json
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame

from pocket_etl_spark.lake import write_json_atomic


class ChangeFeedCursor:
    """Durable position over a lake table's change feed, one per consumer id.

    Usage::

        cur = ChangeFeedCursor(table, "/path/cursor.json")
        df, upto = cur.poll()
        if df is not None:
            ... process df ...      # downstream write (idempotent)
            cur.commit(upto)        # advance only after success
    """

    def __init__(self, table, cursor_path: str, consumer_id: str = "default") -> None:
        self.table = table
        self.cursor_path = cursor_path
        self.consumer_id = consumer_id

    def _read_state(self) -> dict:
        try:
            with open(self.cursor_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def position(self) -> int:
        """Last committed version (0 = consume from the beginning)."""
        return int(self._read_state().get(self.consumer_id, 0))

    def poll(self) -> tuple[DataFrame | None, int]:
        """Changes in (position, current_version], plus the version to commit
        after processing. Returns (None, position) when there is nothing new."""
        since = self.position()
        upto = self.table.current_version()
        if upto <= since:
            return None, since
        return self.table.read_changes(since, upto), upto

    @contextmanager
    def _locked(self):
        """Exclusive advisory lock (fcntl on a sidecar .lock file) serializing
        the read-modify-write in commit(): without it, two consumers with
        different consumer_ids sharing one cursor file could interleave and the
        last writer would silently rewind the other's position (still
        at-least-once, but a large re-delivery). Local/NFSv4 filesystems only —
        on object stores use one cursor file per consumer_id instead."""
        os.makedirs(os.path.dirname(self.cursor_path) or ".", exist_ok=True)
        with open(f"{self.cursor_path}.lock", "w") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(lf, fcntl.LOCK_UN)

    def commit(self, version: int) -> None:
        """Atomically advance the cursor (``lake.write_json_atomic`` under an
        exclusive file lock). Never moves backwards — for any consumer_id in
        the shared file, not just this one."""
        with self._locked():
            state = self._read_state()
            if version <= int(state.get(self.consumer_id, 0)):
                return
            state[self.consumer_id] = int(version)
            write_json_atomic(self.cursor_path, state)
