"""Structured-Streaming SINK into the table format via the Python Data
Source API (r9 — completes the source/sink symmetry with
streaming/table_source.py): ``df.writeStream.format("table_append")``
appends each micro-batch to a versioned-manifest table as one ACID
commit.

This is the real DSv2 sink shape, not a foreachBatch wrapper (that
path exists too — streaming/table_sink.py runs MERGE semantics through
foreachBatch): EXECUTORS stage immutable parquet files under an
attempt-unique directory and ship back (path, rows, footer-stats)
commit messages; the DRIVER's ``commit(messages, batchId)`` publishes
one append manifest naming exactly those files — the
files-then-atomic-metadata protocol every real lake sink uses, so a
torn write is invisible by construction (files without a manifest are
orphans for vacuum's grace window, the same guarantee concurrent
writers already rely on).

Exactly-once: the micro-batch ``batchId`` — namespaced by ``writerId``
when several queries share one table, since batchIds restart from 0
per query — is recorded as the commit's ``epoch``. On
checkpoint-recovery replay the tasks re-stage fresh orphan files, but
``commit`` finds the epoch already published and no-ops — rows land
exactly once, replay debris is reclaimed by vacuum.
A CommitConflict from a concurrent writer retries at the next version
(bounded), since an append commutes with any interleaved commit.

Stats ship FROM the tasks (pyarrow footer metadata read right after
writing, KB-sized) so the driver never re-reads data to build the
manifest — at 100 TB the driver's work is one JSON write per batch.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass
from typing import TYPE_CHECKING, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa


@dataclass
class FileCommitMessage(WriterCommitMessage):
    #: file records this task staged: {"path" (root-relative), "rows",
    #: "stats", "partition"?} — one per partition value the task held
    #: under a spec-partitioned table, one total otherwise; [] = empty
    files: list


class TableAppendStreamWriter(DataSourceStreamArrowWriter):
    def __init__(self, options: dict):
        self.root = options["root"]
        # epoch idempotence must be scoped PER WRITER: batchIds restart
        # from 0 for every distinct streaming query, so keying replay
        # detection on batchId alone would silently drop a SECOND
        # query's early batches (they'd look like replays of the
        # first's). writerId names the logical writer — same value
        # across restarts of one query (its checkpoint), distinct
        # across queries. Single-writer tables may omit it.
        self.writer_id = options.get("writerid", "")
        self.files_dir = os.path.join("data", f"stream-{uuid.uuid4().hex[:8]}")
        # the table's partition spec, resolved DRIVER-side at writer
        # construction and shipped to the tasks: streaming appends land
        # hive-partitioned like every batch write, so stats-pruned
        # reads skip streamed files by partition too
        from ..operators import table_format as tf

        self.spec = tf.snapshot(self.root).readable().spec or []

    def _epoch(self, batchId: int):
        return f"{self.writer_id}/{batchId}" if self.writer_id else int(batchId)

    # -- executor side ----------------------------------------------------
    def write(self, iterator: Iterator["pa.RecordBatch"]) -> FileCommitMessage:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from ..operators.table_format import _file_stats

        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return FileCommitMessage(files=[])
        table = pa.Table.from_batches(batches)
        spec = [c for c in self.spec if c in table.column_names]
        if len(spec) != len(self.spec):
            spec = []  # spec column absent from the stream: flat file

        def _stage(tbl, subdir: str, partition: dict | None) -> dict:
            rel = os.path.join(
                self.files_dir, subdir, f"part-{uuid.uuid4().hex}.parquet"
            ) if subdir else os.path.join(
                self.files_dir, f"part-{uuid.uuid4().hex}.parquet"
            )
            abs_path = os.path.join(self.root, rel)
            os.makedirs(os.path.dirname(abs_path), exist_ok=True)
            pq.write_table(tbl, abs_path)
            # footer stats, task-side: the driver builds the manifest
            # from these messages without ever touching the data again
            st = _file_stats(abs_path)
            rec = {"path": rel, "rows": st["rows"], "stats": st["stats"]}
            if partition:
                rec["partition"] = partition
            return rec

        if not spec:
            return FileCommitMessage(files=[_stage(table, "", None)])
        # hive-partition THIS TASK's rows: one file per distinct
        # partition value the task holds (arrow-side filter, no pandas)
        import pyarrow.compute as pc

        files = []
        combos = table.group_by(spec).aggregate([]).to_pylist()
        for combo in combos:
            if any(combo[c] is None for c in spec):
                raise ValueError(
                    f"null partition value in streaming append: {combo}"
                )
            # path-hostile values would corrupt the hive subdir and its
            # _partition_values parse (batch writes escape via Spark's
            # partitionBy; this sink builds the path itself, so it
            # REJECTS instead — extending the null guard above)
            hostile = {
                c: str(combo[c]) for c in spec
                if any(ch in str(combo[c]) for ch in "/=\\\n\r%\0")
            }
            if hostile:
                raise ValueError(
                    f"path-hostile partition value(s) in streaming "
                    f"append (chars from '/=\\%' or control): {hostile}"
                )
            mask = None
            for c in spec:
                eq = pc.equal(table.column(c), pa.scalar(combo[c]))
                mask = eq if mask is None else pc.and_(mask, eq)
            part = {c: str(combo[c]) for c in spec}
            subdir = os.path.join(
                *[f"_p_{c}={part[c]}" for c in spec]
            )
            files.append(_stage(table.filter(mask), subdir, part))
        return FileCommitMessage(files=files)

    # -- driver side -------------------------------------------------------
    def commit(self, messages, batchId: int) -> None:
        from ..operators import table_format as tf

        epoch = self._epoch(batchId)
        # the table format's log memo parses only manifests committed
        # since the last batch, so replay detection stays O(new commits)
        snap = tf.snapshot(self.root)
        if epoch in snap.epochs:
            return  # replayed epoch: already committed, no-op
        adds = [
            rec for m in messages if m is not None
            for rec in getattr(m, "files", [])
        ]
        for _attempt in range(16):  # appends commute; retry on conflict
            new_v = snap.version + 1
            try:
                tf._publish(self.root, new_v, {
                    "version": new_v, "op": "append", "adds": adds,
                    "removes": [], "epoch": epoch,
                    "n_changes": sum(a["rows"] for a in adds),
                })
                return
            except tf.CommitConflict:
                snap = tf.snapshot(self.root)
        raise tf.CommitConflict(
            f"append epoch {batchId} lost 16 version races at {self.root}"
        )

    def abort(self, messages, batchId: int) -> None:
        # best-effort: staged files are orphans either way (no manifest
        # references them), so vacuum reclaims whatever this misses
        for m in messages:
            for rec in getattr(m, "files", None) or []:
                try:
                    os.unlink(os.path.join(self.root, rec["path"]))
                except OSError:
                    pass


class TableAppendDataSource(DataSource):
    """``df.writeStream.format("table_append").option("root", ...)``
    after ``spark.dataSource.register(TableAppendDataSource)``. The
    table must already exist (create_table pins schema + spec);
    streaming appends follow the table's PARTITION SPEC — each task
    splits its arrow rows by partition value and stages one
    hive-pathed file per value it holds, so streamed files prune by
    partition exactly like batch-written ones. When MORE THAN
    ONE streaming query appends to the same table, each must set a
    distinct ``writerId`` (stable across its own restarts): epoch
    replay detection is keyed on (writerId, batchId), and batchIds
    restart from 0 per query."""

    @classmethod
    def name(cls) -> str:
        return "table_append"

    def streamWriter(self, schema, overwrite: bool) -> TableAppendStreamWriter:
        if overwrite:
            raise ValueError("table_append supports append mode only")
        return TableAppendStreamWriter(dict(self.options))
