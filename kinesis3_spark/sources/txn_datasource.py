"""The manifest txn table as a Spark 4 Python Data Source (batch read).

``spark.read.format("txntable").load(path)`` over a `sinks/txn.py`
table, after ``spark.dataSource.register(TxnTableDataSource)``; SQL
reaches it through ``CREATE TEMPORARY VIEW ... USING txntable``. The
options are ``path`` and ``epoch`` (time travel to a retained version);
Catalyst file skipping (see _TxnBatchReader) needs the session's
``spark.sql.python.filterPushdown.enabled``, which `session.py` sets.
Writes go through `sinks/txn.py` (its writers, batch or drained by
``streaming.run.drain``), never through this source.

Scale shape: the driver touches only the MANIFEST; each InputPartition
is one data file, read executor-side with pyarrow and yielded as Arrow
record batches (the vectorized path — never row-at-a-time tuples, never
through the driver). Deletion-vector positions are dropped
executor-side per partition; schema-evolved files NULL-backfill to the
manifest schema before the cast, same contract as read_snapshot.

Reference: the collector's archive re-read path (src/kinesis3/
core.clj:153) generalized to a snapshot read of the txn table.
"""

from __future__ import annotations

import json
import os
from typing import Iterator, Sequence

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from ..sinks.txn import _entry_may_match, read_manifest


def _norm_path(options: dict) -> str:
    """The table root from the reader options. SQL DDL (``CREATE
    TABLE ... USING txntable OPTIONS (path ...)``) normalizes the path
    to a ``file:`` URI while ``load(path)`` passes it verbatim — accept
    both (local filesystem only, like the rest of the manifest code)."""
    p = options["path"]
    if p.startswith("file://"):
        p = p[len("file://"):]
    elif p.startswith("file:"):
        p = p[len("file:"):]
    return p


class _FileSlice(InputPartition):
    """One data file (+ its dv sidecar refs) shipped to an executor."""

    def __init__(
        self,
        root: str,
        rel: str,
        dv: list[str],
        schema_json: str,
        l2p: dict[str, str] | None = None,
    ):
        self.root = root
        self.rel = rel
        self.dv = dv
        self.schema_json = schema_json
        # column mapping: files store PHYSICAL names; the target schema
        # (and every consumer) speaks logical
        self.l2p = l2p or {}


def _read_slice(part: _FileSlice | None):
    """Executor-side: one file → Arrow batches in the MANIFEST schema —
    missing (pre-evolution) columns NULL-backfilled, deletion-vector
    positions dropped by file-local row index, then a cast to the exact
    target Arrow schema so Spark's consumer never coerces. ``None`` is
    the empty-plan task Spark schedules when every file was pruned."""
    if part is None:
        return
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    import numpy as np

    target = to_arrow_schema(StructType.fromJson(json.loads(part.schema_json)))
    tbl = pq.read_table(os.path.join(part.root, part.rel))
    dead = []
    for ref in part.dv:
        side = pq.read_table(
            os.path.join(part.root, ref), columns=["rel", "pos"]
        )
        # sidecars key rows by the snap/bucket/file triple, part.rel
        mask = pa.compute.equal(side["rel"], part.rel)
        dead.append(side.filter(mask)["pos"].to_numpy(zero_copy_only=False))
    positions = (
        np.concatenate(dead) if dead else np.empty(0, dtype=np.int64)
    )
    if positions.size:
        # vectorized survivor selection — no per-row Python loop
        alive = np.ones(tbl.num_rows, dtype=bool)
        alive[positions[positions < tbl.num_rows]] = False
        tbl = tbl.filter(pa.array(alive))
    cols = []
    for field in target:
        if part.l2p.get(field.name, field.name) in tbl.column_names:
            cols.append(tbl[part.l2p.get(field.name, field.name)])
        else:
            cols.append(pa.nulls(tbl.num_rows, type=field.type))
    out = pa.table(cols, names=[f.name for f in target]).cast(target)
    yield from out.to_batches()


class _TxnBatchReader(DataSourceReader):
    """Batch scan with CATALYST-INTEGRATED zone-map skipping: Spark's
    planner hands the query's conjunctive predicates to pushFilters
    (Spark 4.1 Python DS pushdown); any comparison / In / null test on a
    column whose min/max/null_count live in the manifest prunes files
    whose stats prove it unsatisfiable — `df.where("ts between ...")`
    skips ingest commits WITHOUT the caller asking (read_snapshot's
    manual `where=` contract, now automatic). Skipping is I/O-only:
    every filter is returned to Spark for exact post-scan evaluation, so
    a wrong prune can only LOSE rows — which the parity oracle would
    catch — never invent them. An `epoch` option time-travels the whole
    scan (schema included) to a retained version. ``man`` is that
    version's manifest, read once by the DataSource."""

    def __init__(self, options: dict, schema_json: str, man: dict | None):
        self.path = _norm_path(options)
        self.schema_json = schema_json
        self.entries = man["files"] if man else []
        # column mapping: Catalyst pushes predicates in LOGICAL names;
        # file stats/bloom sidecars are keyed by PHYSICAL names, and the
        # executor-side read translates physical -> logical per batch
        self.l2p = dict((man or {}).get("column_mapping") or {})
        self.pushed: list[tuple] = []  # (col, kind, values)

    def pushFilters(self, filters):
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
        )

        ops = {
            EqualTo: "==",
            GreaterThan: ">",
            GreaterThanOrEqual: ">=",
            LessThan: "<",
            LessThanOrEqual: "<=",
        }
        for f in filters:
            op = ops.get(type(f))
            if op is not None and len(f.attribute) == 1:
                self.pushed.append((f.attribute[0], op, (f.value,)))
            elif isinstance(f, In) and len(f.attribute) == 1:
                self.pushed.append((f.attribute[0], "in", tuple(f.value)))
            elif isinstance(f, IsNull) and len(f.attribute) == 1:
                self.pushed.append((f.attribute[0], "isnull", ()))
            elif isinstance(f, IsNotNull) and len(f.attribute) == 1:
                self.pushed.append((f.attribute[0], "isnotnull", ()))
        return filters  # skipping is I/O-only; Spark re-applies exactly

    def _may_match(self, entry: dict) -> bool:
        for col, kind, vals in self.pushed:
            col = self.l2p.get(col, col)  # stats keyed by physical name
            s = (entry.get("stats") or {}).get(col)
            if kind == "isnull":
                # a recorded zero null_count proves IS NULL unsatisfiable
                if s is not None and s.get("nulls") == 0:
                    return False
            elif kind == "isnotnull":
                # all-null file (min is None) has no non-null rows
                if s is not None and s["min"] is None and s["max"] is None:
                    return False
            elif not _entry_may_match(self.path, entry, (col, kind, *vals)):
                return False
        return True

    def partitions(self) -> Sequence[InputPartition]:
        return [
            _FileSlice(
                self.path, e["path"], e.get("dv", []), self.schema_json,
                l2p=self.l2p,
            )
            for e in self.entries
            if self._may_match(e)
        ]

    def read(self, partition: _FileSlice) -> Iterator:
        return _read_slice(partition)


class TxnTableDataSource(DataSource):
    """``spark.dataSource.register(TxnTableDataSource)`` →
    ``spark.read.format("txntable").load(path)``: a batch scan of the
    committed snapshot (or of ``option("epoch", n)``)."""

    @classmethod
    def name(cls) -> str:
        return "txntable"

    def _manifest(self) -> dict | None:
        """The manifest read ONCE per DataSource instance and reused by
        schema() AND reader(): Spark calls the two separately, and a
        commit landing between two independent reads would pair one
        epoch's schema/column-mapping with another epoch's file list —
        a torn read the manifest design otherwise rules out (ADVICE r8).
        Memoizing pins every consumer of this instance to one epoch."""
        if not hasattr(self, "_man_cache"):
            ep = self.options.get("epoch")
            self._man_cache = read_manifest(
                _norm_path(self.options), int(ep) if ep is not None else None
            )
        return self._man_cache

    def _schema_json(self) -> str:
        man = self._manifest()
        if man is None:
            raise ValueError(
                f"no committed txn table at {self.options.get('path')}"
            )
        if man.get("schema") is None:
            raise ValueError(
                f"txn table {self.options['path']} predates manifest "
                "schemas; recommit once to record one"
            )
        if man.get("column_mapping") or man.get("dropped_cols"):
            # present the LOGICAL view: dropped columns gone, renamed
            # columns under their logical names (read side of mapping)
            from ..sinks.txn import _logical_struct

            schema = json.loads(_logical_struct(man).json())
        else:
            schema = man["schema"]
        return json.dumps(schema)

    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self._schema_json()))

    def reader(self, schema: StructType) -> DataSourceReader:
        # schema and file entries from the SAME memoized manifest read —
        # never one epoch's mapping over another epoch's files
        return _TxnBatchReader(
            dict(self.options), self._schema_json(), self._manifest()
        )
