"""Spark Python DataSource over the encoded warehouse: ``format("transcripts")``.

The Catalyst-integrated read path (PySpark 4.1 DataSource API):

    spark.dataSource.register(TranscriptDataSource)
    df = spark.read.format("transcripts").load("/path/warehouse")
    df.filter("conv_id = 'u000017' AND turn_idx < 5")   # pruned at the scan

This is the one decoder of blocks on disk: SQL and the views,
decode_verify, compaction (``merge_schemas`` fills the columns a chunk
predates with typed defaults) and the staged rewrite behind encode,
delete and upsert (``partition_ids`` lists only the partitions it
merges). ``decode.decode_blocks`` is left for blocks that exist only in
memory. Why it beats that ``groupBy(keys).applyInArrow`` decode:

- **No decode shuffle.** ``decode_blocks`` must shuffle every encoded
  payload to co-locate a chunk's column blocks. But every writer already
  wrote each chunk's blocks into ONE parquet file (a single Spark task
  writes a whole (partition, chunk) group — the write invariant). One scan
  task per partition's files (:meth:`TranscriptReader.plan`, the one
  planner of every read, streaming included) decodes its complete groups
  in place: at 100 TB the decode becomes an embarrassingly parallel scan
  instead of a full-warehouse exchange. A chunk key met twice in a task
  (a copied file) is refused, never decoded twice.
- **Filter pushdown.** ``pushFilters`` receives Catalyst's conjunctive
  filters; range/equality/IN/prefix predicates on any stats-bearing column
  prune chunks against the zone maps *inside each task* (distributed
  pruning — the driver never materializes chunk stats). Every filter is
  also returned to Spark, which re-applies it exactly: pruning only has to
  be conservative (never drop a qualifying chunk), exactness is Catalyst's.
- **Column pruning** via the ``columns`` option (Spark does not yet prune
  columns through Python data sources): only the requested columns' block
  rows are read from parquet (parquet-level column+row filters) and only
  they are decoded. Each chunk's ``conv_id`` row is read too, undecoded,
  so a strict read refuses a chunk that lacks a requested column.
- **Checksums where the bytes are.** decode_verify's read
  (``verify_checksums``) hands each scan task the committed manifest
  checksums of the partitions it holds; the task recomputes each one from
  the block rows it reads anyway and reports the mismatches in two extra
  columns, so verifying re-reads no blocks, in every layout.

Layout coverage (all produced by this engine, all hive-discovered):
``blocks/partition_id=N/*.parquet`` (batch jobs), ``blocks/*.parquet``
(flat writes), ``blocks/epoch=E/*.parquet`` (streaming epochs — the epoch
directory is part of chunk-group identity, CLAUDE.md constraint).
Only the epochs the manifests committed are read.

Reference analogue: the reference's only read surface is re-opening its
Parquet output with a second reader (``converter/convert_test.go:63-97``);
this source is that surface generalized to a queryable, pruned scan.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
from typing import Any, Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
)
from pyspark.sql import types as T

def _blocks_root(options: dict) -> str:
    path = options.get("path") or options.get("warehouse")
    if not path:
        raise ValueError(
            "transcripts data source needs a warehouse path: "
            ".load('/path/warehouse') or .option('path', ...)"
        )
    return os.path.join(path, "blocks")


def _dataset(root: str):
    import pyarrow.dataset as pads

    return pads.dataset(root, format="parquet", partitioning="hive")


def infer_ctypes(root: str) -> dict[str, str]:
    """column -> ctype for the warehouse whose blocks live at ``root``.

    Planning path order: (1) the manifests' per-partition ``schema_sig``
    (O(partitions) narrow rows — at the SCALE.md design point that is
    ~400k strings instead of ~50M block-metadata rows pulled through the
    driver on EVERY ``.load()``); (2) fallback for warehouses without
    manifests (bench/test block dirs, legacy encodes): the full (column,
    meta) blocks projection. Both union distinct signatures; per-chunk
    column-set completeness stays asserted task-side in
    :meth:`TranscriptReader.read`, where the chunk's rows are already in
    hand.
    """
    from .manifest import WarehouseMeta

    sig = WarehouseMeta.load(os.path.dirname(root.rstrip("/"))).ctypes()
    if sig is not None:
        return sig
    return _ctypes_from_blocks(root)


def _ctypes_from_blocks(root: str) -> dict[str, str]:
    """Fallback planning: one narrow (column, meta) projection over the
    blocks table; its distinct (column, ctype) pairs union like the
    manifests' signatures."""
    from .decode import ctypes_from_signatures

    tbl = _dataset(root).to_table(columns=["column", "meta"])
    pairs = {
        (col, json.loads(meta).get("ctype"))
        for col, meta in set(zip(
            tbl.column("column").to_pylist(), tbl.column("meta").to_pylist()
        ))
        if not col.startswith("__")  # marker rows, never data columns
    }
    return ctypes_from_signatures([pairs], merge=True)


def _hive_keys(file_path: str, root: str) -> dict[str, int]:
    """partition_id / epoch recovered from hive path segments."""
    rel = os.path.relpath(file_path, root)
    out: dict[str, int] = {}
    for seg in rel.split(os.sep)[:-1]:
        if "=" in seg:
            k, v = seg.split("=", 1)
            out[k] = int(v)
    return out


# ---------------------------------------------------------------------------
# zone-map overlap tests (pure functions; unit-tested without Spark)
# ---------------------------------------------------------------------------


def _stat_key(ctype: str, value: Any, side: str = "lo"):
    """Predicate bound -> the key domain encode recorded for this ctype.

    ``side`` ("lo"/"hi") matters only for doubles: Spark treats -0.0 and
    +0.0 as equal in predicates, so a zero bound expands to cover both
    keys (zonemap.f64_lo_key / f64_hi_key) — without this, ``score = 0.0``
    would prune a chunk holding only -0.0 and silently drop its rows.

    Returns (kind, key) with kind in {"str", "num"}; None when the value
    can't be mapped (unknown type) — callers must treat that as overlap.
    """
    from . import zonemap

    if ctype == "str":
        return ("str", value) if isinstance(value, str) else None
    if ctype == "f64":
        if isinstance(value, bool) or not isinstance(value, (int, float)):
            return None
        v = float(value)
        return ("num",
                zonemap.f64_lo_key(v) if side == "lo" else zonemap.f64_hi_key(v))
    if ctype == "ts":
        if isinstance(value, _dt.datetime):
            if value.tzinfo is None:
                value = value.replace(tzinfo=_dt.timezone.utc)
            return ("num", int(value.timestamp() * 1_000_000))
        return None
    if ctype == "bool":
        return ("num", int(value)) if isinstance(value, bool) else None
    if isinstance(value, bool) or not isinstance(value, int):
        return None
    return ("num", int(value))


def _bounds(stats: dict, kind: str):
    if kind == "str":
        return stats.get("stat_min_str"), stats.get("stat_max_str")
    return stats.get("stat_min_num"), stats.get("stat_max_num")


def chunk_overlaps(
    filters: Sequence[Filter], stats_by_col: dict[str, dict], ctypes: dict[str, str]
) -> bool:
    """Conservative zone-map test: False only when the chunk provably
    contains no row satisfying the conjunction of ``filters``.

    A column with no stats row / null stats / an unmappable bound never
    prunes. Stats are inclusive min/max, so GreaterThan uses >= bounds
    (conservative; Spark applies the exact predicate afterwards).
    """
    for f in filters:
        attr = getattr(f, "attribute", None)
        if attr is None or len(attr) != 1:
            continue
        col = attr[0]
        ctype = ctypes.get(col)
        stats = stats_by_col.get(col)
        if ctype is None or stats is None:
            continue
        if isinstance(f, EqualTo):
            keep = _overlap_range(stats, ctype, f.value, f.value)
        elif isinstance(f, GreaterThan):
            keep = _overlap_range(stats, ctype, f.value, None, lo_strict=True)
        elif isinstance(f, GreaterThanOrEqual):
            keep = _overlap_range(stats, ctype, f.value, None)
        elif isinstance(f, LessThan):
            keep = _overlap_range(stats, ctype, None, f.value, hi_strict=True)
        elif isinstance(f, LessThanOrEqual):
            keep = _overlap_range(stats, ctype, None, f.value)
        elif isinstance(f, In):
            keep = any(_overlap_range(stats, ctype, v, v) for v in f.value)
        elif isinstance(f, StringStartsWith):
            keep = _overlap_prefix(stats, ctype, f.value)
        else:  # IsNotNull etc.: engine stores no nulls, nothing to prune
            keep = True
        if not keep:
            return False
    return True


def _overlap_range(
    stats: dict, ctype: str, lo: Any, hi: Any,
    lo_strict: bool = False, hi_strict: bool = False,
) -> bool:
    """Stats min/max are inclusive; strict bounds prune the boundary too
    (``x < v`` prunes a chunk whose min equals v)."""
    probe = lo if lo is not None else hi
    mapped = _stat_key(ctype, probe)
    if mapped is None:
        return True
    kind = mapped[0]
    smin, smax = _bounds(stats, kind)
    if smin is None or smax is None:
        return True
    if lo is not None:
        klo = _stat_key(ctype, lo, "lo")
        if klo is not None and (smax < klo[1] or (lo_strict and smax <= klo[1])):
            return False
    if hi is not None:
        khi = _stat_key(ctype, hi, "hi")
        if khi is not None and (smin > khi[1] or (hi_strict and smin >= khi[1])):
            return False
    return True


def _overlap_prefix(stats: dict, ctype: str, prefix: str) -> bool:
    if ctype != "str":
        return True
    smin, smax = _bounds(stats, "str")
    if smin is None or smax is None:
        return True
    # p-prefixed strings form [p, p∞): overlap iff max >= p and min's first
    # len(p) chars don't already sort past p
    return smax >= prefix and smin[: len(prefix)] <= prefix


# ---------------------------------------------------------------------------
# the data source
# ---------------------------------------------------------------------------


class _BlocksFilePartition(InputPartition):
    """One scan task: the files of one partition (see
    :meth:`TranscriptReader.plan`), their hive keys, and a verified read's
    committed checksums of the partitions they can hold, by (epoch,
    partition_id)."""

    def __init__(self, files: list[str], hive: dict[str, int]):
        self.files = files
        self.hive = hive
        self.checksums: dict[tuple, list[str]] | None = None


# the two columns a verified read appends (read_warehouse(verify_checksums=
# True)): per task, the manifest rows whose checksum differs from the one
# recomputed from its block rows, and the manifest rows it compared. Each
# task's counts ride its first decoded row; every other row carries 0.
VERIFY_COLUMNS = ("__checksum_mismatches", "__checksums_compared")


def planned_comparisons(warehouse: str, meta) -> int:
    """How many manifest rows a verified read of ``warehouse`` compares,
    counted in the calling process from the plan its scan tasks run: each
    (epoch, partition_id) of the planned checksums once."""
    reader = TranscriptReader(
        {"path": warehouse, "verify_checksums": "true"}, T.StructType(), {})
    planned: dict[tuple, list[str]] = {}
    for p in reader.plan(meta=meta):
        planned.update(p.checksums)
    return sum(map(len, planned.values()))


class TranscriptReader(DataSourceReader):
    """The always-correct scan: no ``pushFilters`` on purpose.

    Spark 4.1 caches a Python source's planned read (``PythonDataSourceV2.
    readInfo``) on the relation and SKIPS the pushdown re-plan for
    filterless queries — so a reader with pushdown state that is reused
    across queries (a temp view, a kept DataFrame) would silently apply the
    PREVIOUS query's pruning to a later unfiltered query. This reader
    therefore never prunes; :class:`PrunedTranscriptReader` adds pushdown
    and is only handed out with the filters baked into the returned plan
    (see :func:`scan_warehouse`), which forces a fresh pushdown cycle on
    every re-plan and keeps the cache consistent.
    """

    def __init__(
        self,
        options: dict,
        schema: T.StructType,
        ctypes: dict[str, str] | None = None,
    ):
        self.root = _blocks_root(options)
        self.warehouse = os.path.dirname(self.root)
        self.schema = schema
        # the metadata projection is computed once per load (DataSource
        # pickles it through to every planning cycle); only a
        # user-specified-schema load has to infer here
        self.ctypes = ctypes if ctypes is not None else infer_ctypes(self.root)
        self.pushed: list[Filter] = []
        pids = options.get("partition_ids")
        self.partition_ids = (
            None if pids is None else [int(p) for p in pids.split(",") if p]
        )
        self.merge_schemas = options.get("merge_schemas") == "true"
        self.verify = options.get("verify_checksums") == "true"

    def plan(self, pids=None, epochs=None,
             meta=None) -> list[_BlocksFilePartition]:
        """The one planner of blocks reads: one task per partition's files.

        A ``partition_id=N`` dir (under ``shard=`` or not) is one task of
        all its files. Where partition_id is a column (flat
        ``blocks/*.parquet``, ``epoch=E/*.parquet``) each file is one task:
        every writer puts a whole partition of an epoch into one file.
        Listing is O(files) planning work (the contract of any file source);
        chunk-level zone-map pruning happens inside the tasks.

        ``pids`` opens only those partitions' dirs. With none of them on
        disk (flat or epoch layouts) the tree is listed and tasks whose
        hive partition_id is outside ``pids`` dropped; a total miss keeps
        one task (it prunes to nothing task-side) rather than risking the
        empty-partition-list API edge. A listing that shows ``epoch=``
        dirs keeps the epochs the manifests committed (every epoch without
        manifests); ``epochs`` narrows further (a batch warehouse is epoch
        0). A verified read hands each task the committed checksums of the
        partitions it can hold. ``meta`` (the warehouse's
        ``WarehouseMeta``) is loaded only when one of these needs it.
        """
        from .manifest import WarehouseMeta, routed_blocks_dirs

        def load():
            nonlocal meta
            if meta is None:
                meta = WarehouseMeta.load(self.warehouse)
            return meta

        files = [] if pids is None else [
            f for _pid, _d, dset
            in routed_blocks_dirs(self.root, pids, load().shard_dirs)
            for f in dset.files
        ]
        listed = not files
        tasks: dict = {}
        for f in files or _dataset(self.root).files:
            hive = _hive_keys(f, self.root)
            key = ((hive.get("epoch"), hive["partition_id"])
                   if "partition_id" in hive else f)
            tasks.setdefault(key, _BlocksFilePartition([], hive)).files.append(f)
        plan = list(tasks.values())
        if any("epoch" in p.hive for p in plan):
            durable = load().committed_epochs()
            if durable is not None:
                plan = [p for p in plan if p.hive.get("epoch") in durable]
        if epochs is not None:
            plan = [p for p in plan if p.hive.get("epoch", 0) in epochs]
        if pids is not None and listed:
            kept = [p for p in plan if "partition_id" not in p.hive
                    or p.hive["partition_id"] in pids]
            plan = kept or plan[:1]
        if self.verify:
            by_epoch: dict = {}
            for key, sums in load().checksums().items():
                by_epoch.setdefault(key[0], {})[key] = sums
            for p in plan:
                p.checksums = by_epoch.get(p.hive.get("epoch"), {})
                if "partition_id" in p.hive:
                    key = (p.hive.get("epoch"), p.hive["partition_id"])
                    p.checksums = ({key: p.checksums[key]}
                                   if key in p.checksums else {})
        return plan

    def partitions(self) -> Sequence[InputPartition]:
        return self.plan(pids=self.partition_ids)

    def read(self, partition: _BlocksFilePartition) -> Iterator:
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from .decode import _default_array, decode_chunk_arrow
        from .manifest import checksum_of

        want = [f.name for f in self.schema.fields
                if f.name not in VERIFY_COLUMNS]
        want_set = set(want)
        # every chunk forms a group through its conv_id block row (its
        # payload is decoded only when conv_id is wanted), so a strict
        # column-pruned read refuses a chunk that lacks a wanted column
        # instead of silently dropping its rows
        keep = sorted(want_set | {"conv_id"})
        id_cols = [] if "partition_id" in partition.hive else ["partition_id"]

        def _key(r: dict):
            return (
                partition.hive.get("partition_id", r.get("partition_id")),
                r["chunk_idx"],
                partition.hive.get("epoch"),
            )

        def _rows(columns, filters=None) -> list[dict]:
            return [r for f in partition.files for r in pq.read_table(
                f, columns=columns, filters=filters).to_pylist()]

        chunk_filter = pc.field("column").isin(keep)
        if self.pushed:
            # two-phase read: chunk pruning must run BEFORE any payload
            # bytes load, or a point lookup still pays the parquet read of
            # every projected payload in the file. Phase 1 reads ONLY the
            # tiny stats rows (predicate columns included even when pruned
            # out of the projection — their payloads are never loaded);
            # phase 2 restricts the payload read to surviving chunks.
            need_cols = set(keep) | {
                f.attribute[0]
                for f in self.pushed if getattr(f, "attribute", None)
            }
            stats = _rows(
                id_cols + ["chunk_idx", "column", "stat_min_str",
                           "stat_max_str", "stat_min_num", "stat_max_num"],
                pc.field("column").isin(sorted(need_cols)),
            )
            by_chunk: dict[tuple, dict[str, dict]] = {}
            for r in stats:
                by_chunk.setdefault(_key(r), {})[r["column"]] = r
            surviving = [
                key for key, cols in by_chunk.items()
                if chunk_overlaps(self.pushed, cols, self.ctypes)
            ]
            if not surviving:
                return
            expr = None
            for pid, chunk_idx, _epoch in surviving:
                e = pc.field("chunk_idx") == chunk_idx
                if id_cols:
                    e = e & (pc.field("partition_id") == pid)
                expr = e if expr is None else expr | e
            chunk_filter = chunk_filter & expr

        columns = id_cols + [
            "chunk_idx", "column", "codec", "n_rows", "payload", "aux",
            "meta", "stat_min_str", "stat_max_str", "stat_min_num",
            "stat_max_num",
        ]
        tally = (0, 0)  # (checksum mismatches, manifest rows compared)
        if partition.checksums:
            # verified: a partition's checksum covers all its block rows,
            # and the task holds every row of each partition it reads
            rows = _rows(columns)
            by_pid: dict = {}
            for r in rows:
                by_pid.setdefault(_key(r)[0], []).append(r)
            for pid, part_rows in by_pid.items():
                committed = partition.checksums.get(
                    (partition.hive.get("epoch"), pid), [])
                got = checksum_of(part_rows) if committed else None
                tally = (tally[0] + sum(c != got for c in committed),
                         tally[1] + len(committed))
            rows = [r for r in rows if r["column"] in keep]
        else:
            # row filter in the parquet reader: payloads of columns outside
            # the projection (and "__" marker rows, and pruned chunks) never
            # become Python objects
            rows = _rows(columns, chunk_filter)
        groups: dict[tuple, dict[str, dict]] = {}
        for r in rows:
            cols = groups.setdefault(_key(r), {})
            if r["column"] in cols:
                raise ValueError(
                    f"colliding chunks: chunk {_key(r)} has two "
                    f"{r['column']!r} blocks in {partition.files} (a copied "
                    "or re-written blocks file)")
            cols[r["column"]] = r

        out_schema = to_arrow_schema(self.schema)
        data_cols = [c for c in self.ctypes if c in want_set]
        for key, cols in groups.items():
            missing = [c for c in data_cols if c not in cols]
            if missing and not self.merge_schemas:
                raise ValueError(
                    f"chunk {key} in {partition.files} is missing column "
                    f"blocks {missing} — incomplete chunk group (write "
                    "invariant violated or heterogeneous appends)"
                )
            chunk = decode_chunk_arrow([cols[c] for c in want if c in cols])
            for c in missing:  # merge_schemas: a chunk older than column c
                chunk = chunk.append_column(
                    c, _default_array(self.ctypes[c], chunk.num_rows))
            chunk = chunk.select(want)
            if self.verify:
                for name, count in zip(VERIFY_COLUMNS, tally):
                    vals = np.zeros(chunk.num_rows, np.int64)
                    vals[:1] = count
                    chunk = chunk.append_column(name, pa.array(vals))
                if chunk.num_rows:
                    tally = (0, 0)
            yield from chunk.cast(out_schema).to_batches()


class PrunedTranscriptReader(TranscriptReader):
    def pushFilters(self, filters: list[Filter]) -> list[Filter]:
        """Record every filter usable for zone-map pruning; return ALL of
        them (eagerly — a lazy generator would never run if the engine
        doesn't drain it). Spark re-evaluates returned filters exactly, so
        pruning only carries the conservative-overlap obligation, never
        exactness."""
        supported = (
            EqualTo, GreaterThan, GreaterThanOrEqual, LessThan,
            LessThanOrEqual, In, StringStartsWith,
        )
        self.pushed = [
            f
            for f in filters
            if isinstance(f, supported)
            and getattr(f, "attribute", None)
            and len(f.attribute) == 1
            and f.attribute[0] in self.ctypes
        ]
        return list(filters)

    def _routed_pids(self):
        """(partition ids that can hold the pushed conv_id point keys, the
        ``WarehouseMeta`` they were routed by), from ONE read of the
        manifests' hash-routing metadata. (None, None) = no routable
        filter; ids None = no routing metadata (then every file is planned
        as usual)."""
        from .manifest import WarehouseMeta

        for f in self.pushed:
            if f.attribute[0] != "conv_id":
                continue
            if isinstance(f, EqualTo) and isinstance(f.value, str):
                keys = [f.value]
            elif isinstance(f, In) and all(
                isinstance(v, str) for v in f.value
            ):
                keys = list(f.value)
            else:
                continue
            # one conjunct suffices; others only narrow further
            if not keys:
                return None, None
            meta = WarehouseMeta.load(self.warehouse)
            return meta.route(keys)[0], meta
        return None, None

    def partitions(self) -> Sequence[InputPartition]:
        """Task-level pruning for point lookups: a pushed conv_id
        equality/IN routes through the manifests hash metadata, and ONLY
        the routed partition dirs are even LISTED — at ~400k partition
        dirs the full-tree file listing is the dominant planning cost, so
        a point query opens ~2 dirs instead of discovering the tree
        (the same move as scan.fetch_conversation). Layouts without
        per-partition dirs (flat files, streaming epochs) fall back to the
        full listing (:meth:`plan`), and chunk zone maps still prune inside
        every task."""
        pids, meta = self._routed_pids()
        if pids is None:
            return super().partitions()
        return self.plan(pids=pids, meta=meta)


class TranscriptStreamReader(DataSourceStreamReader):
    """The warehouse as a STREAMING source: tail committed epochs.

    ``spark.readStream.format("transcripts").load(warehouse)`` turns a
    streaming warehouse (epoch=N block dirs, written by
    ``streaming.incremental_encode``) into a Structured Streaming source
    for downstream incremental pipelines: each micro-batch decodes the
    epochs committed since the last offset, through the same in-place
    chunk decode as the batch reader.

    Exactly-once hinges on the writer's commit convention: an epoch's
    blocks are durable only once ``manifests/epoch=N`` exists
    (blocks-first, manifest-commit-last). ``latestOffset`` therefore
    advances over COMMITTED epochs only, so a crash mid-epoch is invisible
    here — the restarted writer overwrites the partial epoch dir and then
    commits it, and only then does the offset include it. Epoch ids from
    one streaming query are monotone, so the committed set only grows.
    A batch warehouse (no epoch dirs, but blocks present) is exposed as a
    single epoch 0 — stream-reading it yields everything once.
    """

    def __init__(self, options: dict, schema: T.StructType,
                 ctypes: dict[str, str] | None = None):
        self._batch = TranscriptReader(options, schema, ctypes)

    def _epochs(self) -> list[int]:
        """The committed epochs, from the manifests; a warehouse that is
        not streaming is one epoch 0 once it holds blocks."""
        from .manifest import WarehouseMeta

        epochs = WarehouseMeta.load(self._batch.warehouse).committed_epochs()
        if epochs is not None:
            return epochs
        try:
            return [0] if self._batch.plan() else []
        except FileNotFoundError:  # no blocks yet
            return []

    def initialOffset(self) -> dict:
        return {"epoch": -1}

    def latestOffset(self) -> dict:
        epochs = self._epochs()
        return {"epoch": epochs[-1] if epochs else -1}

    def partitions(self, start: dict, end: dict):
        return self._batch.plan(
            epochs=range(int(start["epoch"]) + 1, int(end["epoch"]) + 1))

    def read(self, partition: _BlocksFilePartition):
        return self._batch.read(partition)

    def commit(self, end: dict) -> None:
        pass  # offsets are derived from the durable manifests commit log


class TranscriptDataSource(DataSource):
    """``spark.read.format("transcripts").load(warehouse)``."""

    @classmethod
    def name(cls) -> str:
        return "transcripts"

    def _ctypes(self) -> dict[str, str]:
        if getattr(self, "_ctypes_cache", None) is None:
            self._ctypes_cache = infer_ctypes(_blocks_root(self.options))
        return self._ctypes_cache

    def schema(self) -> T.StructType:
        from .decode import _column_order, schema_from_ctypes

        ctypes = self._ctypes()
        if self.options.get("columns"):
            keep = [c.strip() for c in self.options["columns"].split(",")]
            unknown = [c for c in keep if c not in ctypes]
            if unknown:
                raise ValueError(
                    f"unknown columns {unknown}; have {_column_order(ctypes)}"
                )
            ctypes = {c: ctypes[c] for c in keep}
        schema = schema_from_ctypes(ctypes)
        if self.options.get("verify_checksums") == "true":
            for name in VERIFY_COLUMNS:
                schema = schema.add(name, T.LongType(), False)
        return schema

    def reader(self, schema: T.StructType) -> TranscriptReader:
        return TranscriptReader(
            self.options, schema, getattr(self, "_ctypes_cache", None)
        )

    def streamReader(self, schema: T.StructType) -> TranscriptStreamReader:
        return TranscriptStreamReader(
            self.options, schema, getattr(self, "_ctypes_cache", None)
        )


class PrunedTranscriptDataSource(TranscriptDataSource):
    """Pushdown-enabled variant. Do not hand bare relations of this format
    to callers (see TranscriptReader docstring for the Spark 4.1 readInfo
    staleness hazard) — go through :func:`scan_warehouse`, which bakes the
    predicate into the returned plan."""

    @classmethod
    def name(cls) -> str:
        return "transcripts_pruned"

    def reader(self, schema: T.StructType) -> PrunedTranscriptReader:
        return PrunedTranscriptReader(
            self.options, schema, getattr(self, "_ctypes_cache", None)
        )


_registered: set[int] = set()


def register(spark) -> None:
    """Idempotently register both formats with this session (and ship the
    package so executors can import the decode kernels)."""
    from .shipping import ensure_shipped

    key = id(spark.sparkContext)
    if key in _registered:
        return
    ensure_shipped(spark)
    # off by default in 4.1; runtime-settable SQL conf
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(TranscriptDataSource)
    spark.dataSource.register(PrunedTranscriptDataSource)
    _registered.add(key)


def read_warehouse(
    spark,
    warehouse: str,
    columns: list[str] | None = None,
    partition_ids=None,
    merge_schemas: bool = False,
    verify_checksums: bool = False,
):
    """Full-scan read path: shuffle-free decode, safe to reuse and to wrap
    in a view (no pushdown state; see TranscriptReader).

    ``partition_ids`` restricts the read to those partitions' dirs (the
    staged rewrite decodes only the partitions it merges); only dirs that
    exist are read, so pass at least one that does.

    ``merge_schemas`` opts into additive schema evolution: a chunk written
    before a column of the warehouse's union schema existed decodes it as
    the typed zero-default ``normalize_input`` imputes (str "", numbers 0,
    bool false, ts epoch-0), so old rows read as if encoded after the
    evolution. The strict default refuses such a chunk as an incomplete
    chunk group; a type CHANGE fails either way. It reads whole chunks:
    a column-pruned merge would drop the rows of chunks holding none of
    the requested columns instead of filling them, so it is refused.

    ``verify_checksums`` is decode_verify's integrity check riding its
    decode: the read appends :data:`VERIFY_COLUMNS`, whose sums are the
    manifest checksum mismatches and the manifest rows the scan tasks
    compared (:func:`planned_comparisons` is how many they must). Without
    it the read hashes nothing.
    """
    if (merge_schemas or verify_checksums) and columns:
        raise ValueError("merge_schemas and verify_checksums read every "
                         "column; drop columns=")
    register(spark)
    r = spark.read.format("transcripts")
    if columns:
        r = r.option("columns", ",".join(columns))
    if partition_ids is not None:
        r = r.option("partition_ids", ",".join(map(str, sorted(partition_ids))))
    if merge_schemas:
        r = r.option("merge_schemas", "true")
    if verify_checksums:
        r = r.option("verify_checksums", "true")
    return r.load(warehouse)


def scan_warehouse(
    spark,
    warehouse: str,
    predicate,
    columns: list[str] | None = None,
):
    """Predicate-pruned read: zone maps skip non-overlapping chunks inside
    each scan task; Spark re-applies the predicate exactly.

    ``predicate`` (a SQL string or Column, required) is applied to the
    relation before it is returned, so every downstream action carries at
    least these filters — each re-plan runs a fresh pushdown cycle, which
    is what keeps Spark 4.1's cached readInfo consistent under reuse.

    With ``columns``, every column the predicate references must be in the
    projection (Spark resolves the filter against the scan output; a
    missing column fails analysis loudly, exactly like selecting it).
    """
    preds = list(predicate) if isinstance(predicate, (list, tuple)) else [predicate]
    if not preds or any(p is None for p in preds):
        # a bare transcripts_pruned relation is exactly the Spark 4.1
        # cached-readInfo staleness hazard the format split exists to
        # prevent: every pruned relation must carry >=1 baked filter
        raise ValueError(
            "scan_warehouse requires a non-empty predicate; use "
            "read_warehouse for a full scan"
        )
    register(spark)
    r = spark.read.format("transcripts_pruned")
    if columns:
        r = r.option("columns", ",".join(columns))
    df = r.load(warehouse)
    for p in preds:
        df = df.filter(p)
    return df
