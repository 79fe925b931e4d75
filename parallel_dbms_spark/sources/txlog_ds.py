"""The transactional table (sources/txlog.py) as a Structured
Streaming SOURCE — tail the commit log, emit each commit's appended
rows as micro-batches (the Delta streaming-source contract,
re-expressed on the Spark 4 Python DataSource API).

Offsets are COMMIT VERSIONS: offset {"v": N} means "everything up to
and including commit N is consumed". A replay between two committed
offsets re-reads exactly the commits in (start, end] — data files are
immutable and the log is append-only, so micro-batches are
deterministic and checkpoint-recoverable with no extra bookkeeping.

Change semantics (Delta's):
- ``append`` / ``merge``-insert-only commits stream their added rows;
- ``compact`` / ``repartition`` commits are skipped without reading a
  byte (content-preserving by construction);
- ``delete`` / file-rewriting ``merge`` commits RAISE by default — a
  streaming consumer silently missing deletions is a correctness trap.
  Pass ``ignoreChanges=true`` to stream such commits' ADDED files
  instead (re-emitting rewritten survivor rows, exactly Delta's
  ``ignoreChanges`` contract — consumers must dedup downstream).

Execution model: the default reader is PARTITION-PLANNED
(``DataSourceStreamReader``): the driver walks only the commit
RECORDS (kilobytes, file-list-bounded) to plan one input partition
per added data file, and EXECUTORS read the parquet directly — row
bytes never transit the driver, so a micro-batch's cost scales with
executor count, not driver memory. Pass ``simple=true`` to opt into
the by-value ``SimpleDataSourceStreamReader`` instead (Spark's
low-throughput control-plane face: rows prefetch through the driver,
which is fine for dimension-table-sized feeds and lets Spark skip the
partition-planning round-trip per batch).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.errors import PySparkNotImplementedError
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from . import txlog


def _p2l_pairs(table: str, version: int | None = None) -> tuple:
    """((physical, logical), ...) rename pairs for this table's data
    files — empty on identity tables (see txlog.table_column_mapping).
    Computed once at plan time; ships inside each partition so
    executor reads never replay the log for the mapping. Stream
    readers PIN the version at init: their serve schema is fixed at
    stream start, and physical names are stable, so the init-time map
    keeps serving the declared schema correctly across later renames
    (a rename mid-stream must never silently null the column)."""
    return tuple(
        (p, l) for l, p in txlog._l2p_map(table, version).items()
    )


def _rename_arrow(tbl, rename: tuple):
    """Apply physical→logical rename pairs to an Arrow table. A column
    NOT being renamed whose name equals a rename TARGET is a retired
    physical shadowed by the mapping (drop-then-re-add left its bytes
    in old files while a later rename re-points the logical name):
    drop it first, or the renamed table would carry duplicate names
    and serve dead bytes."""
    if not rename:
        return tbl
    ren = dict(rename)
    targets = set(ren.values())
    shadowed = [
        c for c in tbl.column_names if c not in ren and c in targets
    ]
    if shadowed:
        tbl = tbl.drop_columns(shadowed)
    return tbl.rename_columns([ren.get(c, c) for c in tbl.column_names])


def _z_sort_arrow(tbl, cluster_cols: list):
    """Sort an Arrow table on the z-curve of the clustering columns —
    the numpy twin of lake.z_cluster for the Spark-free auto-compact
    path (min-max normalize each NUMERIC dimension into the bit
    range, interleave, argsort). Non-numeric keys (or none) fall back
    to a plain lexicographic sort on whichever cluster columns exist;
    no cluster columns = keep arrival order."""
    cols = [c for c in cluster_cols if c in tbl.column_names]
    if not cols:
        return tbl
    import numpy as np
    import pyarrow as pa

    dims = []
    for c in cols:
        arr = tbl.column(c)
        if not pa.types.is_integer(arr.type) and not pa.types.is_floating(
            arr.type
        ):
            dims = None
            break
        v = np.asarray(arr.to_numpy(zero_copy_only=False), dtype=np.float64)
        v = np.where(np.isnan(v), 0.0, v)
        dims.append(v)
    if dims is None:
        return tbl.sort_by([(c, "ascending") for c in cols])
    bits = min(16, 63 // len(dims))
    top = (1 << bits) - 1
    norm = []
    for v in dims:
        lo, hi = float(v.min()), float(v.max())
        span = max(hi - lo, 1.0)
        norm.append(
            np.floor((v - lo) * top / span).astype(np.int64)
        )
    z = np.zeros(len(norm[0]), dtype=np.int64)
    k = len(norm)
    for i in range(bits):
        for j, v in enumerate(norm):
            z |= ((v >> i) & 1) << (i * k + j)
    order = np.argsort(z, kind="stable")
    return tbl.take(pa.array(order, type=pa.int64()))


def _rows_from_files(
    table: str, rels: list[str], fields: list[str], dvs: dict | None = None,
    rename: tuple = (),
):
    """Read parquet files by value (pyarrow, in whichever Python worker
    runs this) aligned to the serve schema: absent columns
    (pre-evolution files) yield None; deletion-vector positions (row
    order == parquet row index) are skipped when ``dvs`` is given.
    """
    import os

    import pyarrow.parquet as pq

    for rel in rels:
        tbl = _rename_arrow(pq.read_table(os.path.join(table, rel)), rename)
        cols = set(tbl.column_names)
        excl = set((dvs or {}).get(rel, ()))
        for i, rec in enumerate(tbl.to_pylist()):
            if i in excl:
                continue
            yield tuple(rec.get(f) if f in cols else None for f in fields)


def _plan_rels(
    table: str,
    lo: int,
    hi: int,
    ignore_changes: bool,
    ignore_deletes: bool = False,
    schema_pin: int = 0,
) -> list[str]:
    """Added-file relpaths for commits in (lo, hi], with the Delta
    change-semantics checks. Walks commit RECORDS only — cost is
    bounded by the commit count and their file lists, never row
    count."""
    rels: list[str] = []
    versions = txlog.log_versions(table)
    if versions and hi > lo and lo + 1 < versions[0]:
        # commits in (lo, horizon) were expired (tx_expire_versions):
        # silently skipping them would drop their rows from the stream.
        # The check cannot depend on hi's position — a restart replays
        # the last PLANNED batch, and if the horizon advanced past the
        # whole (lo, hi] range while the stream was down, the version
        # loop below would match nothing and silently emit zero rows.
        raise ValueError(
            f"stream offset v={lo} is below the retention horizon "
            f"{versions[0]}; restart the query from a snapshot "
            "(txlog.read_snapshot) with a fresh checkpoint"
        )
    for v in versions:
        if v <= lo or v > hi:
            continue
        rec = txlog.read_commit(table, v)
        if rec["action"] in ("compact", "repartition"):
            continue  # content-preserving rewrites: nothing to emit
        if rec["action"] == "drop_column" and v > schema_pin:
            # Delta's rule: a stream cannot serve across a DROPPED
            # column landing AFTER its schema was fixed (later
            # re-adds would silently null it under the pinned
            # schema) — fail loudly, restart with a fresh checkpoint
            # against the new schema. Renames pass: the pinned
            # init-time mapping keeps serving them correctly; drops
            # already reflected in the stream's schema (v <= pin)
            # pass too.
            raise ValueError(
                f"commit {v} dropped a column "
                f"({rec.get('dropped')!r}); the stream's schema was "
                "fixed at start — restart the query with a fresh "
                "checkpoint to pick up the new table schema"
            )
        if ignore_deletes and not rec["added"] and (
            rec["removed"] or rec.get("dv")
        ):
            # Delta's ignoreDeletes: a PURE delete (whole files dropped
            # or rows vectored, nothing rewritten) is skippable — the
            # consumer declared deletions irrelevant. A delete that
            # REWRITES files (partial-file survivors) still raises
            # below: its added files would re-emit surviving rows.
            continue
        if (rec["removed"] or rec.get("dv")) and not ignore_changes:
            raise ValueError(
                f"commit {v} ({rec['action']}) rewrote or vectored "
                "files; a pure append stream cannot represent it. "
                "Pass ignoreChanges=true to skip/re-emit, or consume "
                "txlog.tx_changes for a faithful CDC feed"
            )
        rels.extend(rec["added"])
    return rels


def _cap_offset_by_files(
    table: str, last: int, head: int,
    max_files: int | None, max_bytes: int | None = None,
) -> int:
    """Delta's maxFilesPerTrigger / maxBytesPerTrigger re-expressed on
    commit-version offsets: walk the commit RECORDS from ``last``
    toward ``head`` accumulating added-file counts (and sizes, one
    stat per file) and stop at the last version whose cumulative total
    still fits every given budget — a backlogged stream catches up in
    bounded micro-batches instead of one giant one. At least one
    commit always advances (a single commit larger than the budget
    must still plan, or the stream wedges). Metadata-only: cost is
    the records walked, never rows."""
    import os

    if head <= last:
        return head
    n = nb = 0
    end = last
    for v in txlog.log_versions(table):
        if v <= last or v > head:
            continue
        added = txlog.read_commit(table, v).get("added", ())
        n += len(added)
        if max_bytes is not None:
            for rel in added:
                try:
                    nb += os.path.getsize(os.path.join(table, rel))
                except OSError:
                    pass  # vacuumed-orphan edge: size unknowable
        over = (max_files is not None and n > max_files) or (
            max_bytes is not None and nb > max_bytes
        )
        if over and end > last:
            return end
        end = v
        at = (max_files is not None and n >= max_files) or (
            max_bytes is not None and nb >= max_bytes
        )
        if at:
            return end
    return end


def _resolve_starting_version(options, table: str) -> int:
    """Where the stream attaches: ``startingVersion`` (a commit
    number, inclusive) or ``startingTimestamp`` (epoch seconds or an
    ISO-8601 string, naive = UTC) resolved against commit-file mtimes
    to the first commit at-or-after that instant — Delta's two
    attach-point options, mutually exclusive like Delta's."""
    sv = options.get("startingversion")
    sts = options.get("startingtimestamp")
    if sv is not None and sts is not None:
        raise ValueError(
            "startingVersion and startingTimestamp are mutually "
            "exclusive — pass one attach point, not two"
        )
    if sts is not None:
        try:
            ts = float(sts)
        except ValueError:
            from datetime import datetime, timezone

            dt = datetime.fromisoformat(sts)
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            ts = dt.timestamp()
        return txlog.version_on_or_after_timestamp(table, ts)
    return int(sv) if sv is not None else 1


@dataclass
class TxLogInputPartition(InputPartition):
    """One data file of one commit = one Spark task. The partition
    value ships only metadata (paths, field names, and the expected
    Arrow schema — kilobytes); the executor's Python worker reads the
    parquet itself."""

    table: str
    rel: str
    fields: tuple
    arrow_schema: object = None  # pa.Schema (pickles); None = tuples
    row_filter: tuple = ()  # ((col, (want_str | None, ...)), ...)
    rename: tuple = ()  # ((physical, logical), ...) column mapping
    row_base: tuple | None = None  # (base_row_id, commit_version)
    row_ids: bool = False  # serve _row_id/_row_commit_version


def _parse_partition_filter(options, table: str):
    """Parse `.option("partitionFilter", '{"col": value-or-list}')`
    into (filter-dict | None, row-filter tuple). Keys are validated
    against the table's declared partition columns up front — a
    non-partition column can never match a recorded value map and
    would silently drop every value-pure file."""
    import json as _json

    raw = options.get("partitionfilter")
    if not raw:
        return None, ()
    pf = _json.loads(raw)
    if not isinstance(pf, dict):
        raise ValueError(
            "partitionFilter must be a JSON object {column: value-or-list}"
        )
    declared = set(txlog.table_partition_by(table))
    unknown = sorted(set(pf) - declared)
    if unknown:
        raise ValueError(
            f"partitionFilter column(s) {unknown} are not partition "
            f"columns of {table} (declared: {sorted(declared) or 'none'})"
        )
    row_filter = tuple(
        (
            c,
            tuple(
                txlog._pv_str(x)
                for x in (v if isinstance(v, (list, tuple)) else [v])
            ),
        )
        for c, v in sorted(pf.items())
    )
    return pf, row_filter


def _cdc_stats_excludes(stats: dict, pfilter: dict, types: dict) -> bool:
    """True when a change-data sidecar's recorded [min, max] column
    stats PROVE no wanted partition value can appear in it — the
    sidecar prunes whole. Conservative in every doubtful case: a
    missing column, a null in the wanted set, a type mismatch, or a
    timestamp column (its stat bounds are ISO-T strings while filter
    literals use Spark's space-separated CAST format — the formats
    sort differently, so comparing them could WRONGLY prune) all read
    the sidecar."""
    for col, want in pfilter.items():
        vals = list(want) if isinstance(want, (list, tuple)) else [want]
        if any(v is None for v in vals):
            continue  # stats ignore nulls: cannot prove absence
        rng = stats.get(col)
        if rng is None:
            continue
        if types.get(col, "").startswith("timestamp"):
            continue
        mn, mx = rng
        try:
            if all(v < mn or v > mx for v in vals):
                return True
        except TypeError:
            continue  # incomparable literal: must-read
    return False


def _pv_matches(vals: dict | None, row_filter: tuple) -> bool | None:
    """Metadata verdict for one file's recorded partition values:
    True = provably all-matching (serve with no row work), False =
    provably disjoint (skip the file entirely), None = not provable
    (unrecorded file, or values recorded under a PREVIOUS declaration
    that misses a filter column — read with the row-level backstop)."""
    if vals is None:
        return None
    if any(c in vals and vals[c] not in set(w) for c, w in row_filter):
        return False
    if all(c in vals for c, _ in row_filter):
        return True
    return None


def _read_one_file(
    table: str, rel: str, fields: tuple, arrow_schema, exclude: tuple = (),
    row_filter: tuple = (), rename: tuple = (),
    row_base: tuple | None = None, row_ids: bool = False,
):
    """Executor-side read of one data file. Fast path: when the file's
    Arrow schema for the selected fields EXACTLY equals the serve
    schema (the common case — these files were written by Spark under
    the same schema contract), the parquet column batches stream to
    Spark as Arrow RecordBatches, no per-row Python objects at all.
    Deletion-vector positions (``exclude``, row order == parquet row
    index) are dropped with an Arrow ``take`` before batching, so
    vectored files keep the columnar path. Pre-evolution files (absent
    columns) or type drift fall back to row tuples, which null-fill —
    slower but always correct.

    ``row_ids`` serves the two row-tracking columns: raw row positions
    ride as a temp column THROUGH the DV/backstop takes (positions
    index the raw file), then ``_row_id`` resolves as the file's
    MATERIALIZED ``__row_id`` when present, else ``row_base[0] +
    position`` — the same coalesce rule as read_snapshot."""
    import os

    import pyarrow.parquet as pq

    tbl = _rename_arrow(pq.read_table(os.path.join(table, rel)), rename)
    if row_ids:
        import pyarrow as pa

        tbl = tbl.append_column(
            "__rt_pos", pa.array(range(tbl.num_rows), type=pa.int64())
        )
    if exclude:
        import pyarrow as pa

        drop = set(exclude)
        keep = [i for i in range(tbl.num_rows) if i not in drop]
        # explicit int64 index type: an all-deleted file's empty keep
        # list would otherwise infer null and break the take kernel
        tbl = tbl.take(pa.array(keep, type=pa.int64()))
    if row_filter:
        # partition-filter backstop for files with NO recorded
        # partition values (rewrites, pre-partitioning history):
        # compare via txlog._pv_str, the exact stringification the
        # recorded side uses, so pruned and backstopped files agree.
        # Python walks only the filter columns; such files are the
        # rare un-pruned remainder. Applied AFTER deletion vectors
        # (positions index the raw file).
        import pyarrow as pa

        cols = [
            tbl.column(c).to_pylist()
            if c in tbl.column_names
            else [None] * tbl.num_rows  # pre-evolution: serves as NULL
            for c, _ in row_filter
        ]
        wants = [set(w) for _, w in row_filter]
        keep = [
            i
            for i in range(tbl.num_rows)
            if all(
                txlog._pv_str(col[i]) in w for col, w in zip(cols, wants)
            )
        ]
        tbl = tbl.take(pa.array(keep, type=pa.int64()))
    if row_ids:
        import pyarrow as pa
        import pyarrow.compute as pc

        pos = tbl.column("__rt_pos")
        tbl = tbl.drop_columns(["__rt_pos"])
        base, cv = row_base if row_base else (None, None)
        derived_id = (
            pc.add(pos, pa.scalar(int(base), type=pa.int64()))
            if base is not None
            else pa.nulls(tbl.num_rows, type=pa.int64())
        )
        derived_cv = (
            pa.array([int(cv)] * tbl.num_rows, type=pa.int64())
            if cv is not None
            else pa.nulls(tbl.num_rows, type=pa.int64())
        )
        names = set(tbl.column_names)
        rid = (
            pc.coalesce(
                pc.cast(tbl.column("__row_id"), pa.int64()), derived_id
            )
            if "__row_id" in names
            else derived_id
        )
        rcv = (
            pc.coalesce(
                pc.cast(tbl.column("__row_commit"), pa.int64()),
                derived_cv,
            )
            if "__row_commit" in names
            else derived_cv
        )
        tbl = tbl.drop_columns(
            [c for c in ("__row_id", "__row_commit") if c in names]
        )
        tbl = tbl.append_column("_row_id", rid).append_column(
            "_row_commit_version", rcv
        )
    if arrow_schema is not None and all(
        n in tbl.column_names for n in arrow_schema.names
    ):
        sel = tbl.select(arrow_schema.names)
        if sel.schema == arrow_schema:  # pyarrow == ignores metadata
            return iter(sel.to_batches(max_chunksize=1 << 16))
    # row-tuple fallback (pre-evolution files, type drift): serve from
    # the in-hand table — deletion vectors and the partition-filter
    # backstop are already applied above, so no re-read
    cols = set(tbl.column_names)
    return iter(
        [
            tuple(rec.get(f) if f in cols else None for f in fields)
            for rec in tbl.to_pylist()
        ]
    )


@dataclass
class TxLogChangePartition(InputPartition):
    """One CDC split: a commit's added file (every row an 'insert') or
    a MOR-delete's vectored slice of one immutable file (the listed
    row positions, each a 'delete'). Metadata-only, like the plain
    read partitions."""

    table: str
    rel: str
    fields: tuple
    change_type: str
    version: int
    positions: tuple = ()  # delete partitions: DV row indexes
    row_filter: tuple = ()  # ((col, (want_str | None, ...)), ...)
    rename: tuple = ()  # ((physical, logical), ...) column mapping


def _read_change_partition(p: TxLogChangePartition):
    """Executor-side CDC read: the file's rows (or its vectored
    positions) with ``_change_type`` / ``_commit_version`` appended.
    A ``cdc`` partition is a writer-persisted change-data sidecar —
    its rows already carry their own ``_change_type``. ``row_filter``
    is the partition-filter backstop for splits whose partition
    values are not provably pure (sidecars, unrecorded files)."""
    import os

    import pyarrow.parquet as pq

    tbl = _rename_arrow(pq.read_table(os.path.join(p.table, p.rel)), p.rename)
    if p.change_type == "delete":
        tbl = tbl.take(list(p.positions))
    elif p.change_type == "delete_file":
        # a metadata-dropped all-match file: every LIVE row (all rows
        # minus the positions vectored BEFORE the dropping commit) is
        # a delete
        prior = set(p.positions)
        tbl = tbl.take([i for i in range(tbl.num_rows) if i not in prior])
    cols = set(tbl.column_names)
    want = {c: set(w) for c, w in p.row_filter}
    for rec in tbl.to_pylist():
        if want and not all(
            txlog._pv_str(rec.get(c)) in w for c, w in want.items()
        ):
            continue
        ct = rec["_change_type"] if p.change_type == "cdc" else p.change_type
        if ct == "delete_file":
            ct = "delete"
        yield tuple(
            rec.get(f) if f in cols else None for f in p.fields
        ) + (ct, p.version)


def _plan_change_partitions(
    table: str, lo: int, hi: int, fields: tuple, rename: tuple = (),
    schema_pin: int = 0,
) -> list[TxLogChangePartition]:
    """CDC splits for commits in (lo, hi]. Appends stream their added
    files as inserts and MOR deletes stream their vectored positions
    as deletes — both partition-plannable because data files are
    immutable. ``compact`` commits are content-preserving (skipped);
    file-REWRITING commits (delete/merge/update/restore) raise: their
    row-level diff needs the except-all join of ``txlog.tx_changes``,
    which is a batch computation — re-baseline there, as Delta
    consumers do when CDF hits a non-streamable commit."""
    versions = txlog.log_versions(table)
    if versions and hi > lo and lo + 1 < versions[0]:
        # same horizon rule as _plan_rels: a fully-expired replay range
        # must error, not silently emit an empty batch
        raise ValueError(
            f"change stream offset v={lo} is below the retention "
            f"horizon {versions[0]}; re-baseline from read_snapshot"
        )
    parts: list[TxLogChangePartition] = []
    for v in versions:
        if v <= lo or v > hi:
            continue
        rec = txlog.read_commit(table, v)
        action = rec["action"]
        if action in ("compact", "repartition"):
            continue
        if action == "drop_column" and v > schema_pin:
            raise ValueError(
                f"commit {v} dropped a column "
                f"({rec.get('dropped')!r}); restart the change-feed "
                "query with a fresh checkpoint against the new schema"
            )
        if rec.get("cdc"):
            # the writer persisted this commit's change set (Delta's
            # change-data file): one partition scans the sidecar —
            # rewriting commits become streamable after all
            parts.append(
                TxLogChangePartition(
                    table, rec["cdc"], fields, "cdc", v, rename=rename
                )
            )
            continue
        if action == "fsck":
            # the repaired references' bytes are GONE from disk — the
            # lost rows cannot be served as deletes; the consumer must
            # re-baseline from a snapshot
            raise ValueError(
                f"commit {v} is an FSCK repair (data files were lost "
                "externally); the change feed cannot replay it — "
                "re-baseline from read_snapshot with a fresh checkpoint"
            )
        if rec["removed"] and not rec["added"]:
            # whole-file drops with NO rewrite (the partition fast
            # path on either delete flavor, a shrinking RESTORE):
            # every live row of each dropped file is a pure delete,
            # plannable per file — positions carry the PRIOR vectors
            # to exclude
            prior = txlog.snapshot_dvs(table, v - 1)
            for rel in rec["removed"]:
                parts.append(
                    TxLogChangePartition(
                        table, rel, fields, "delete_file", v,
                        tuple(prior.get(rel, ())), rename=rename,
                    )
                )
        elif rec["removed"]:
            raise ValueError(
                f"commit {v} ({action}) rewrote files; its row-level "
                "diff is a batch computation — consume "
                "txlog.tx_changes for this range instead (or re-run "
                "the write with write_cdc=True)"
            )
        for rel in rec["added"]:
            parts.append(
                TxLogChangePartition(
                    table, rel, fields, "insert", v, rename=rename
                )
            )
        for rel, pos in rec.get("dv", {}).items():
            parts.append(
                TxLogChangePartition(
                    table, rel, fields, "delete", v, tuple(pos),
                    rename=rename,
                )
            )
    return parts


class TxLogStreamReader(DataSourceStreamReader):
    """Partition-planned streaming face: driver plans (file) splits
    from the commit log; executors read the data files directly."""

    def __init__(self, options, schema: T.StructType):
        self.table = options.get("path")
        if not self.table:
            raise ValueError("txlog stream requires a path option")
        self.ignore_changes = (
            str(options.get("ignorechanges", "false")).lower() == "true"
        )
        self.ignore_deletes = (
            str(options.get("ignoredeletes", "false")).lower() == "true"
        )
        self.fields = tuple(f.name for f in schema.fields)
        # `.option("withRowIds", "true")`: the serve schema (from
        # DataSource.schema) already carries the two row-tracking
        # columns; partitions ship each replayed file's base so the
        # executor derives ids exactly like the batch face
        self.row_ids = (
            str(options.get("withrowids", "false")).lower() == "true"
        )
        from pyspark.sql.pandas.types import to_arrow_schema

        self._arrow_schema = to_arrow_schema(schema)
        # column mapping pinned at stream start (see _p2l_pairs)
        self._map_v = (txlog.log_versions(self.table) or [0])[-1]
        self._rename = _p2l_pairs(self.table, self._map_v or None)
        # Delta's startingVersion / startingTimestamp: begin the
        # stream AT a commit (inclusive) instead of the log's start —
        # how a consumer attaches to a long-lived table without
        # replaying history it already holds (e.g. it baselined from
        # read_snapshot(N-1) or a wall-clock cutover instant).
        self.starting_version = _resolve_starting_version(
            options, self.table
        )
        # partition pruning PER MICRO-BATCH: a consumer tailing one
        # partition of a partitioned table skips the other partitions'
        # value-pure files from commit metadata alone — never opened,
        # never shipped to an executor
        self.pfilter, self.row_filter = _parse_partition_filter(
            options, self.table
        )
        # Delta's maxFilesPerTrigger: bound each micro-batch's planned
        # file count (the tracker syncs to Spark's true offsets in
        # partitions(), so restarts resume from the checkpoint)
        mft = options.get("maxfilespertrigger")
        self.max_files = int(mft) if mft is not None else None
        if self.max_files is not None and self.max_files < 1:
            raise ValueError("maxFilesPerTrigger must be >= 1")
        mbt = options.get("maxbytespertrigger")
        self.max_bytes = int(mbt) if mbt is not None else None
        if self.max_bytes is not None and self.max_bytes < 1:
            raise ValueError("maxBytesPerTrigger must be >= 1")
        self._last_end = self.starting_version - 1

    def initialOffset(self):
        return {"v": self.starting_version - 1}

    def latestOffset(self):
        versions = txlog.log_versions(self.table)
        head = versions[-1] if versions else 0
        # never below initialOffset: a startingVersion ahead of the
        # current head would otherwise plan a NEGATIVE first batch and
        # record the lower offset, re-emitting commits the user asked
        # to skip once they land
        head = max(head, self.starting_version - 1)
        if self.max_files is not None or self.max_bytes is not None:
            head = _cap_offset_by_files(
                self.table, self._last_end, head,
                self.max_files, self.max_bytes,
            )
        return {"v": head}

    def partitions(self, start, end):
        lo, hi = int(start["v"]), int(end["v"])
        self._last_end = max(self._last_end, hi)
        rels = _plan_rels(
            self.table, lo, hi, self.ignore_changes, self.ignore_deletes,
            schema_pin=self._map_v,
        )
        ren = self._rename
        bases: dict = {}
        if self.row_ids:
            # base resolution must not depend on trigger pacing: the
            # snapshot replay AT hi covers every live file (including
            # pre-enable files whose bases live in the enabling
            # commit's backfill map, which may be OUTSIDE this batch's
            # range), and the replayed commits' own records then
            # overlay files a later commit already removed
            bases = dict(txlog.snapshot_base_row_ids(self.table, hi))
            for v in txlog.log_versions(self.table):
                if lo < v <= hi:
                    bases.update(
                        txlog.read_commit(self.table, v).get(
                            "base_row_id", {}
                        )
                    )
        if not self.pfilter:
            return [
                TxLogInputPartition(
                    self.table, rel, self.fields, self._arrow_schema,
                    rename=ren,
                    row_base=(
                        tuple(bases[rel]) if rel in bases else None
                    ),
                    row_ids=self.row_ids,
                )
                for rel in rels
            ]
        # the replayed commits' own pv records (not snapshot_pv: the
        # stream replays commit contents even for files later removed);
        # recorded keys are PHYSICAL — translate to the filter's
        # logical names (at the stream's pinned mapping) before
        # matching
        pv: dict = {}
        for v in txlog.log_versions(self.table):
            if lo < v <= hi:
                pv.update(txlog.read_commit(self.table, v).get("pv", {}))
        pv = txlog._pv_keys_to_logical(
            self.table, pv, self._map_v or None
        )
        out = []
        for rel in rels:
            verdict = _pv_matches(pv.get(rel), self.row_filter)
            if verdict is False:
                continue  # provably disjoint: skipped from metadata
            out.append(
                TxLogInputPartition(
                    self.table, rel, self.fields, self._arrow_schema,
                    () if verdict else self.row_filter,
                    rename=ren,
                    row_base=(
                        tuple(bases[rel]) if rel in bases else None
                    ),
                    row_ids=self.row_ids,
                )
            )
        return out

    def read(self, partition):  # runs in an executor Python worker
        return _read_one_file(
            partition.table,
            partition.rel,
            partition.fields,
            partition.arrow_schema,
            row_filter=partition.row_filter,
            rename=partition.rename,
            row_base=partition.row_base,
            row_ids=partition.row_ids,
        )

    def commit(self, end):
        pass  # offsets are pure log positions; nothing to clean up


class TxLogChangeStreamReader(DataSourceStreamReader):
    """Streaming CHANGE DATA FEED face (``readChangeFeed=true``): the
    serve schema gains ``_change_type`` / ``_commit_version``, and
    each micro-batch carries the commits' row-level changes —
    partition-planned like the plain reader, with the same offsets."""

    def __init__(self, options, schema: T.StructType):
        self.table = options.get("path")
        if not self.table:
            raise ValueError("txlog change stream requires a path option")
        self.fields = tuple(
            f.name
            for f in schema.fields
            if f.name not in ("_change_type", "_commit_version")
        )
        # column mapping pinned at stream start (see _p2l_pairs)
        self._map_v = (txlog.log_versions(self.table) or [0])[-1]
        self._rename = _p2l_pairs(self.table, self._map_v or None)
        self.starting_version = _resolve_starting_version(
            options, self.table
        )
        # partitionFilter on the CHANGE FEED too (Delta pushes
        # partition predicates into CDF reads): insert splits prune by
        # their own commit's recorded values, DV-delete splits by the
        # values live at their commit, sidecar change sets keep the
        # row-level backstop (a change file is never value-pure)
        self.pfilter, self.row_filter = _parse_partition_filter(
            options, self.table
        )
        # maxFilesPerTrigger on the feed too (same budget walk; DV and
        # sidecar splits ride their commit, so the bound is approximate
        # by added files — bounded either way)
        mft = options.get("maxfilespertrigger")
        self.max_files = int(mft) if mft is not None else None
        if self.max_files is not None and self.max_files < 1:
            raise ValueError("maxFilesPerTrigger must be >= 1")
        mbt = options.get("maxbytespertrigger")
        self.max_bytes = int(mbt) if mbt is not None else None
        if self.max_bytes is not None and self.max_bytes < 1:
            raise ValueError("maxBytesPerTrigger must be >= 1")
        self._last_end = self.starting_version - 1

    def initialOffset(self):
        return {"v": self.starting_version - 1}

    def latestOffset(self):
        versions = txlog.log_versions(self.table)
        head = versions[-1] if versions else 0
        # clamped like the plain reader: never below initialOffset
        head = max(head, self.starting_version - 1)
        if self.max_files is not None or self.max_bytes is not None:
            head = _cap_offset_by_files(
                self.table, self._last_end, head,
                self.max_files, self.max_bytes,
            )
        return {"v": head}

    def partitions(self, start, end):
        self._last_end = max(self._last_end, int(end["v"]))
        ren = self._rename
        parts = _plan_change_partitions(
            self.table, int(start["v"]), int(end["v"]), self.fields,
            rename=ren, schema_pin=self._map_v,
        )
        if not self.pfilter:
            return parts
        pv_at: dict = {}  # snapshot pv per referenced commit version
        out = []
        for p in parts:
            if p.change_type == "insert":
                vals = txlog._pv_keys_to_logical(
                    self.table,
                    txlog.read_commit(self.table, p.version).get("pv", {}),
                    self._map_v or None,
                ).get(p.rel)
            elif p.change_type in ("delete", "delete_file"):
                # a vectored file is still live AT its commit; a
                # DROPPED file (partition fast path) is not — its
                # recorded values live at the predecessor snapshot
                at = (
                    p.version
                    if p.change_type == "delete"
                    else p.version - 1
                )
                if at not in pv_at:
                    # snapshot_pv serves LOGICAL keys already
                    pv_at[at] = txlog.snapshot_pv(self.table, at)
                vals = pv_at[at].get(p.rel)
            else:  # cdc sidecar: mixed rows — never value-pure, but
                # the commit's recorded sidecar stats (cdc_stats) can
                # still prove it DISJOINT from the filter and skip it
                vals = None
                st = txlog.read_commit(self.table, p.version).get(
                    "cdc_stats"
                )
                if st:
                    sch = txlog._schema_at(self.table, p.version)
                    types = {
                        f.name: f.dataType.simpleString()
                        for f in (sch.fields if sch else [])
                    }
                    if _cdc_stats_excludes(
                        txlog._keys_to_logical(
                            self.table, st, p.version
                        ),
                        self.pfilter,
                        types,
                    ):
                        continue
            verdict = _pv_matches(vals, self.row_filter)
            if verdict is False:
                continue  # provably disjoint: skipped from metadata
            out.append(
                TxLogChangePartition(
                    p.table, p.rel, p.fields, p.change_type, p.version,
                    p.positions, () if verdict else self.row_filter,
                    rename=ren,
                )
            )
        return out

    def read(self, partition):  # runs in an executor Python worker
        return _read_change_partition(partition)

    def commit(self, end):
        pass


class TxLogSimpleStreamReader(SimpleDataSourceStreamReader):
    """By-value control-plane face (opt-in via ``simple=true``): rows
    prefetch through the driver — bounded feeds only."""

    def __init__(self, options, schema: T.StructType):
        self.table = options.get("path")
        if not self.table:
            raise ValueError("txlog stream requires a path option")
        self.ignore_changes = (
            str(options.get("ignorechanges", "false")).lower() == "true"
        )
        self.ignore_deletes = (
            str(options.get("ignoredeletes", "false")).lower() == "true"
        )
        self.fields = [f.name for f in schema.fields]
        # `.option("withRowIds", "true")` — face parity with the
        # batch and partition-planned readers: by-value rows carry
        # _row_id/_row_commit_version too (the serve schema already
        # has them from DataSource.schema)
        self.row_ids = (
            str(options.get("withrowids", "false")).lower() == "true"
        )
        # column mapping pinned at stream start (see _p2l_pairs)
        self._map_v = (txlog.log_versions(self.table) or [0])[-1]
        self._rename = _p2l_pairs(self.table, self._map_v or None)
        self.starting_version = _resolve_starting_version(
            options, self.table
        )
        # option parity with the partition-planned face: silently
        # ignoring partitionFilter here would serve UNFILTERED rows to
        # a caller who asked for one partition — the worst failure mode
        self.pfilter, self.row_filter = _parse_partition_filter(
            options, self.table
        )

    def initialOffset(self):
        return {"v": self.starting_version - 1}

    def _rows(self, lo: int, hi: int):
        rels = _plan_rels(
            self.table, lo, hi, self.ignore_changes, self.ignore_deletes,
            schema_pin=self._map_v,
        )
        ren = self._rename
        if self.row_ids:
            return self._rows_with_ids(rels, lo, hi)
        if not self.pfilter:
            return list(
                _rows_from_files(self.table, rels, self.fields, rename=ren)
            )
        # commit-metadata pruning like the planned reader: disjoint
        # value-pure files never open; unrecorded files row-filter.
        # Recorded pv keys are PHYSICAL — translate before matching.
        pv: dict = {}
        for v in txlog.log_versions(self.table):
            if lo < v <= hi:
                pv.update(txlog.read_commit(self.table, v).get("pv", {}))
        pv = txlog._pv_keys_to_logical(
            self.table, pv, self._map_v or None
        )
        pure, backstop = [], []
        for rel in rels:
            verdict = _pv_matches(pv.get(rel), self.row_filter)
            if verdict is False:
                continue
            (pure if verdict else backstop).append(rel)
        rows = list(
            _rows_from_files(self.table, pure, self.fields, rename=ren)
        )
        if backstop:
            # a partitionFilter column may be absent from the READ
            # schema — read it alongside the serve fields (absent in
            # the file serves as NULL, exactly like the planned face's
            # _read_one_file) and project back after filtering
            fcols = [c for c, _ in self.row_filter]
            ext = list(self.fields) + [
                c for c in fcols if c not in self.fields
            ]
            n = len(self.fields)
            pos = {c: ext.index(c) for c in fcols}
            want = {c: set(w) for c, w in self.row_filter}
            rows.extend(
                r[:n]
                for r in _rows_from_files(
                    self.table, backstop, ext, rename=ren
                )
                if all(
                    txlog._pv_str(r[pos[c]]) in w for c, w in want.items()
                )
            )
        return rows

    def _rows_with_ids(self, rels: list, lo: int, hi: int):
        """Row-id serving for the by-value face: the same base
        resolution as the partition-planned reader (snapshot replay AT
        hi — pre-enable files' bases live in the enabling commit's
        backfill map — overlaid by the replayed range's own records),
        each file folded through _read_one_file's coalesce rule
        (materialized __row_id wins, else base + position), with the
        partition-filter verdict deciding prune / pure / backstop
        exactly like the id-less path."""
        bases = dict(txlog.snapshot_base_row_ids(self.table, hi))
        for v in txlog.log_versions(self.table):
            if lo < v <= hi:
                bases.update(
                    txlog.read_commit(self.table, v).get("base_row_id", {})
                )
        pv: dict = {}
        if self.pfilter:
            for v in txlog.log_versions(self.table):
                if lo < v <= hi:
                    pv.update(
                        txlog.read_commit(self.table, v).get("pv", {})
                    )
            pv = txlog._pv_keys_to_logical(
                self.table, pv, self._map_v or None
            )
        out: list = []
        for rel in rels:
            rf: tuple = ()
            if self.pfilter:
                verdict = _pv_matches(pv.get(rel), self.row_filter)
                if verdict is False:
                    continue
                if verdict is not True:
                    rf = self.row_filter
            out.extend(
                _read_one_file(
                    self.table, rel, tuple(self.fields), None,
                    row_filter=rf, rename=self._rename,
                    row_base=(
                        tuple(bases[rel]) if rel in bases else None
                    ),
                    row_ids=True,
                )
            )
        return out

    def read(self, start):
        versions = txlog.log_versions(self.table)
        # clamp to the start offset so an ahead-of-head startingVersion
        # never records a regressed offset (same rule as latestOffset
        # on the partition-planned readers)
        head = max(versions[-1] if versions else 0, int(start["v"]))
        # a LIST iterator (pickles, supports replay probing), as the
        # Simple reader runner requires
        return iter(self._rows(int(start["v"]), head)), {"v": head}

    def readBetweenOffsets(self, start, end):
        return iter(self._rows(int(start["v"]), int(end["v"])))


class TxLogReader(DataSourceReader):
    """Batch face: the latest snapshot, partition-planned one task per
    live data file (deletion vectors applied per file), served through
    the same Arrow RecordBatch fast path as the stream reader —
    schema-matched files (DV'd or not) never materialize per-row
    Python objects. For full DataFrame-native scans prefer
    ``txlog.read_snapshot`` (column pruning, predicate pushdown); this
    face exists so ``format("txlog")`` round-trips in both batch and
    streaming."""

    def __init__(self, options, schema: T.StructType):
        self.table = options.get("path")
        self.fields = tuple(f.name for f in schema.fields)
        # `.option("withRowIds", "true")` — the format-API twin of
        # read_snapshot(with_row_ids=True); the serve schema already
        # carries _row_id/_row_commit_version (DataSource.schema)
        self.row_ids = (
            str(options.get("withrowids", "false")).lower() == "true"
        )
        # `.option("partitionFilter", '{"country": "NL"}')` — the
        # format-API twin of read_snapshot(partition_filter=...)
        self.pfilter, self.row_filter = _parse_partition_filter(
            options, self.table
        )
        from pyspark.sql.pandas.types import to_arrow_schema

        self._arrow_schema = to_arrow_schema(schema)

    def partitions(self):
        _, files = txlog.snapshot_files(self.table)
        dvs = txlog.snapshot_dvs(self.table)
        pure: set = set()
        row_filter: tuple = ()
        if self.pfilter:
            # metadata-only pruning from the log's recorded partition
            # values — whole files drop before any footer is read.
            # Only files whose recorded values PROVABLY match every
            # filter column skip the row work (_pv_matches is True);
            # unrecorded files AND files recording other columns than
            # the filter (staged under a previous declaration) are
            # kept by the pruner as must-reads and keep the exact
            # row-level backstop — the same verdict contract as the
            # stream faces and read_snapshot.
            files = txlog.prune_partition_files(
                self.table, files, self.pfilter
            )
            pv = txlog.snapshot_pv(self.table)
            pure = {
                f
                for f in files
                if _pv_matches(pv.get(f), self.row_filter) is True
            }
            row_filter = self.row_filter
        ren = _p2l_pairs(self.table)
        bases = (
            txlog.snapshot_base_row_ids(self.table) if self.row_ids
            else {}
        )
        return [
            TxLogBatchPartition(
                self.table,
                rel,
                self.fields,
                tuple(dvs.get(rel, ())),
                self._arrow_schema,
                () if rel in pure else row_filter,
                ren,
                tuple(bases[rel]) if rel in bases else None,
                self.row_ids,
            )
            for rel in files
        ]

    def read(self, partition):
        return _read_one_file(
            partition.table,
            partition.rel,
            partition.fields,
            partition.arrow_schema,
            partition.dv,
            partition.row_filter,
            partition.rename,
            partition.row_base,
            partition.row_ids,
        )


@dataclass
class TxLogBatchPartition(InputPartition):
    table: str
    rel: str
    fields: tuple
    dv: tuple
    arrow_schema: object = None  # pa.Schema (pickles); None = tuples
    row_filter: tuple = ()  # ((col, (want_str | None, ...)), ...)
    rename: tuple = ()  # ((physical, logical), ...) column mapping
    row_base: tuple | None = None  # (base_row_id, commit_version)
    row_ids: bool = False  # serve _row_id/_row_commit_version


def _write_checks(table: str) -> dict:
    """The full predicate set a sink write must satisfy: the table's
    CHECK constraints plus one null-safe equality per GENERATED column
    (the sink's rows arrive complete, so a generated column must equal
    its expression — IS NOT DISTINCT FROM never yields NULL, which
    keeps the TRUE-or-NULL CHECK semantics exact for it)."""
    cons = dict(txlog.table_constraints(table))
    for c, e in txlog.table_generated_columns(table).items():
        cons[f"__generated_{c}"] = f"{c} IS NOT DISTINCT FROM ({e})"
    return cons


def _check_constraints_duckdb(
    cons: dict, *, arrow_tbl=None, parquet_paths=None, table: str = ""
) -> None:
    """Enforce the table's CHECK constraints WITHOUT a SparkSession —
    the streaming sink's write tasks run in executor Python workers
    and its commit hook runs in the driver's DataSource worker, and
    neither holds a session, so ``txlog._enforce_constraints`` (one
    Spark job) is unreachable from this path. DuckDB evaluates the
    same ANSI predicate over the task's in-memory Arrow batch (or the
    staged parquet files, for the commit-time race recheck) with
    identical SQL CHECK semantics: a row passes when the predicate is
    TRUE **or NULL**, only FALSE violates. Fail-closed: a predicate
    DuckDB cannot evaluate (Spark-only function) raises rather than
    letting rows land unvalidated."""
    if not cons:
        return
    import duckdb

    con = duckdb.connect()
    try:
        if arrow_tbl is not None:
            con.register("__batch", arrow_tbl)
            src = "__batch"
        else:
            quoted = ", ".join(
                "'" + p.replace("'", "''") + "'" for p in parquet_paths
            )
            src = f"read_parquet([{quoted}], union_by_name=true)"
        bad = {}
        for name in sorted(cons):
            pred = cons[name]
            try:
                n = con.execute(
                    f"SELECT count(*) FROM {src} "
                    f"WHERE NOT coalesce(({pred}), TRUE)"
                ).fetchone()[0]
            except ValueError:
                raise
            except Exception as exc:
                raise ValueError(
                    f"CHECK constraint {name!r} ({pred!r}) on {table} "
                    "is not evaluable on the streaming-sink path "
                    "(sink-side enforcement runs without a "
                    f"SparkSession; keep predicates ANSI-SQL): {exc}"
                ) from exc
            if n:
                bad[name] = int(n)
        if bad:
            raise ValueError(
                f"CHECK constraint violation on {table}: "
                + ", ".join(
                    f"{n} ({cons[n]!r}) fails {c} row(s)"
                    for n, c in sorted(bad.items())
                )
            )
    finally:
        con.close()


def _split_value_pure(tbl, pcols: list[str]):
    """Split one task's Arrow batch into VALUE-PURE sub-batches, one
    per combination of the table's declared partition columns —
    ``[(sub_table, {col: value-string | None}), ...]`` with values
    rendered by :func:`txlog._pv_str`, the same format
    ``_stage_partitioned`` records (Spark's CAST AS STRING), so
    streamed and batch-appended files prune identically. VECTORIZED:
    one Arrow ``group_by`` over the partition columns collects each
    combination's row indices kernel-side, then one ``take`` per
    group — Python touches only the per-GROUP key values (bounded by
    partition-combination count, never batch width)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    # group on NULL-MASKED stringified keys, not the raw columns:
    # pyarrow's multi-key group_by (16.x) fragments groups whose key
    # contains a null into per-minibatch duplicates — correct pv, but
    # thousands of needless tiny files. A (filled-string, is-null)
    # pair per column is null-safe and injective per distinct value.
    n = tbl.num_rows
    gb: dict = {}
    for j, c in enumerate(pcols):
        col = tbl.column(c)
        try:
            as_str = pc.cast(col, pa.string())
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
            as_str = pa.array(
                [txlog._pv_str(v) for v in col.to_pylist()],
                type=pa.string(),
            )
        gb[f"__k{j}"] = pc.fill_null(as_str, "")
        gb[f"__n{j}"] = pc.is_null(col)
    rowcol = "__row"
    gb[rowcol] = pa.array(range(n), type=pa.int64())
    agg = (
        pa.table(gb)
        .group_by([k for k in gb if k != rowcol], use_threads=False)
        .aggregate([(rowcol, "list")])
    )
    rows_per_group = agg.column(f"{rowcol}_list").to_pylist()
    # pv strings render from each group's FIRST original value via
    # txlog._pv_str — the recorded format stays exactly Spark's CAST
    pdata = {c: tbl.column(c) for c in pcols}
    entries = [
        (
            tuple(
                txlog._pv_str(pdata[c][rows[0]].as_py()) for c in pcols
            ),
            rows,
        )
        for rows in rows_per_group
    ]
    entries.sort(
        key=lambda e: tuple((x is None, x or "") for x in e[0])
    )
    return [
        (
            tbl.take(pa.array(rows, type=pa.int64())),
            dict(zip(pcols, key)),
        )
        for key, rows in entries
    ]


@dataclass
class TxLogWriteMessage(WriterCommitMessage):
    """The staged files of one write task (empty tuple for an empty
    task): ``(data-relative path, partition-values-JSON-or-None)``
    pairs plus the row count and the constraint map the task validated
    against — kilobytes to the driver, never rows."""

    files: tuple  # ((rel, pv_json | None), ...)
    n_rows: int
    cons: tuple = ()  # sorted (name, predicate) pairs enforced in write()
    ident_read: tuple = ()  # sorted (col, watermark) the task assigned from


class TxLogStreamWriter(DataSourceStreamWriter):
    """Native exactly-once streaming SINK (``writeStream.format
    ("txlog")``): each task stages its partition as one parquet file
    under the table's ``data/`` (fresh UUID — invisible until
    committed), ships only the relpath back, and the driver publishes
    ALL of a micro-batch's files as ONE atomic commit carrying the
    (app, batchId) txn identity. A replayed batch is recognized by the
    txn ledger and skipped — its re-staged files become orphans that
    ``tx_vacuum`` reclaims. This is the foreachBatch
    ``stream_tx_append`` sink re-expressed as a first-class Spark 4
    DataSource writer: same ledger, but rows never funnel through a
    single foreachBatch DataFrame action on the driver's plan — each
    executor task writes its own file."""

    def __init__(self, options, schema: T.StructType):
        self.table = options.get("path")
        if not self.table:
            raise ValueError("txlog stream sink requires a path option")
        self.app = options.get("app", "txlog_ds_sink")
        self.merge_schema = (
            str(options.get("mergeschema", "false")).lower() == "true"
        )
        # `.option("statsCols", "a,b")` — per-file min/max riding each
        # micro-batch commit, the same opt-in as tx_append(stats_cols=),
        # so tx_read_skipping serves streamed tables too
        raw_stats = options.get("statscols", "")
        self.stats_cols = [c.strip() for c in raw_stats.split(",") if c.strip()]
        # `.option("autoCompact", "true")` — Databricks' auto
        # compaction re-expressed: after a micro-batch commits, if the
        # live small-file count crossed the threshold, the sink packs
        # the tail itself — Spark-free (see _maybe_auto_compact): the
        # DataSource driver commit has no SparkSession, so the pass is
        # pure pyarrow, bounded by the tail bytes, z-ordering on the
        # declared CLUSTER BY. Best-effort: a conflicting racer skips
        # the pass (the next batch retries); the data commit is NEVER
        # failed by maintenance.
        self.auto_compact = (
            str(options.get("autocompact", "false")).lower() == "true"
        )
        self.ac_min_files = int(options.get("autocompactminfiles", 16))
        self.ac_target = int(
            options.get("autocompacttargetbytes", 128 << 20)
        )
        self.ac_max_bytes = int(
            options.get("autocompactmaxbytes", 512 << 20)
        )
        # IDENTITY on streamed ingest: declarations are PINNED at query
        # start (the same rule as the stream readers' column mapping).
        # A supplied GENERATED ALWAYS column is rejected here, before
        # the query even starts; an OMITTED identity column is ASSIGNED
        # per micro-batch — each executor task reserves a disjoint
        # range (base + (taskId*2^33 + i)*step, the gap-allowed Delta
        # reservation), and the batch commit advances the watermark
        # from the staged files' footer stats.
        self.idents = txlog.table_identity(self.table)
        in_names = set(schema.fieldNames())
        bad = sorted(
            c for c in self.idents
            if c in in_names and self.idents[c]["always"]
        )
        if bad:
            raise ValueError(
                f"stream supplies GENERATED ALWAYS AS IDENTITY "
                f"column(s) {bad} of {self.table}; omit them (the sink "
                "assigns) or declare BY DEFAULT"
            )
        self.gen_idents = {
            c: dict(spec)
            for c, spec in sorted(self.idents.items())
            if c not in in_names
        }
        from pyspark.sql.pandas.types import to_arrow_schema

        self._in_arrow = to_arrow_schema(schema)
        eff = schema
        if self.gen_idents:
            eff = T.StructType(
                schema.fields
                + [
                    T.StructField(c, T.LongType())
                    for c in sorted(self.gen_idents)
                ]
            )
        self.schema = eff
        self._arrow_schema = to_arrow_schema(eff)

    def write(self, iterator):  # runs on executors
        import json as _json
        import os
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = list(iterator)
        if not rows:
            return TxLogWriteMessage(files=(), n_rows=0)
        names = self._in_arrow.names
        cols = list(zip(*rows))
        tbl = pa.table(
            {n: list(c) for n, c in zip(names, cols)},
            schema=self._in_arrow,
        )
        ident_read: tuple = ()
        if self.gen_idents:
            # executor-side assignment from the CURRENT watermark (the
            # log is readable here, like the constraint map): this
            # task's range is disjoint from every other task's by the
            # partitionId*2^33 offset; the wm each task read rides the
            # message so the driver can prove no generator raced the
            # batch before publishing.
            from pyspark import TaskContext

            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else 0
            wm_map = txlog.identity_watermark(self.table)
            reads = []
            for c, spec in sorted(self.gen_idents.items()):
                start, step = int(spec["start"]), int(spec["step"])
                wm = int(wm_map.get(c, start - step))
                base = txlog._ident_next_base(start, step, wm)
                tbl = tbl.append_column(
                    c,
                    pa.array(
                        [
                            base + ((pid << 33) + i) * step
                            for i in range(tbl.num_rows)
                        ],
                        type=pa.int64(),
                    ),
                )
                reads.append((c, wm))
            ident_read = tuple(reads)
            names = list(names) + sorted(self.gen_idents)
        # CHECK constraints enforce on EVERY write path (Delta's
        # contract — tx_append, UPDATE post-images, MERGE sources, and
        # this sink): each task validates its own rows in parallel,
        # executor-side, before anything stages. The enforced map rides
        # the commit message so the driver can detect a constraint
        # commit racing the batch and revalidate (commit() below).
        cons = _write_checks(self.table)
        _check_constraints_duckdb(cons, arrow_tbl=tbl, table=self.table)
        # COLUMN MAPPING: staged files carry PHYSICAL names (validated
        # logically above); pv keys record physically like
        # _stage_partitioned
        m = txlog._l2p_map(self.table)
        if m:
            tbl = _rename_arrow(tbl, tuple((l, p) for l, p in m.items()))
        # declared partitioning: stage VALUE-PURE files with recorded
        # partitionValues, exactly like batch _stage_partitioned — so
        # prune_partition_files prunes streamed appends too, not just
        # batch ones
        pcols = txlog.table_partition_by(self.table)
        if pcols and all(c in names for c in pcols):
            parts = _split_value_pure(tbl, [m.get(c, c) for c in pcols])
        else:
            parts = [(tbl, None)]
        os.makedirs(os.path.join(self.table, txlog.DATA), exist_ok=True)
        tag = _uuid.uuid4().hex[:12]
        files = []
        for i, (part, vals) in enumerate(parts):
            rel = f"{txlog.DATA}/{tag}-w{i}.parquet"
            pq.write_table(part, os.path.join(self.table, rel))
            files.append(
                (rel, None if vals is None else _json.dumps(vals))
            )
        return TxLogWriteMessage(
            files=tuple(files),
            n_rows=len(rows),
            cons=tuple(sorted(cons.items())),
            ident_read=ident_read,
        )

    def commit(self, messages, batchId):  # driver: one atomic publish
        import json as _json
        import os

        msgs = [m for m in messages if m and m.files]
        added = sorted(rel for m in msgs for rel, _ in m.files)
        pv = {
            rel: _json.loads(vals)
            for m in msgs
            for rel, vals in m.files
            if vals is not None
        }
        if txlog.txn_seen(self.table, self.app, batchId):
            return  # replay of a committed batch: staged files orphan
        meta = {"txn_app": self.app, "txn_batch": int(batchId)}
        validated = {m.cons for m in msgs}
        # footer min/max once per batch (snapshot-independent): one
        # footer read per staged file, the add-file stats pattern.
        # Assigned identity columns ALWAYS ride the stats — their
        # footer max IS the new watermark.
        eff_stats = (
            sorted(set(self.stats_cols) | set(self.gen_idents))
            if self.gen_idents else self.stats_cols
        )
        stats = (
            txlog.collect_file_stats(self.table, added, eff_stats)
            if eff_stats and added
            else None
        )

        def attempt():
            nonlocal validated
            parent = (txlog.log_versions(self.table) or [0])[-1]
            batch_meta = meta
            if self.gen_idents and added:
                # every task must have assigned from the watermark that
                # is STILL current — a racing generator in between
                # means the staged ids could collide; fail the batch
                # (a restart replays it and re-assigns fresh)
                cur_wm = txlog.identity_watermark(self.table)
                expect = tuple(
                    (
                        c,
                        int(cur_wm.get(
                            c,
                            int(spec["start"]) - int(spec["step"]),
                        )),
                    )
                    for c, spec in sorted(self.gen_idents.items())
                )
                reads = {m.ident_read for m in msgs}
                if reads != {expect}:
                    raise ValueError(
                        f"identity watermark of {self.table} advanced "
                        "while this micro-batch staged (a racing "
                        "generator); restarting the query replays the "
                        "batch with fresh assignments"
                    )
                if txlog.table_identity(self.table) != self.idents:
                    raise ValueError(
                        f"identity declarations of {self.table} changed "
                        "mid-stream; restart the query to re-pin them"
                    )
                new_wm = txlog._ident_wm_from_stats(
                    self.table, self.idents, sorted(self.gen_idents),
                    stats, cur_wm,
                    (txlog._effective_mapping(self.table) or {}).get,
                )
                batch_meta = {
                    **meta, "identity_watermark": {**cur_wm, **new_wm},
                }
            if added:
                # a constraint commit may have raced the batch (landed
                # after the tasks validated, or mid-batch so tasks
                # disagree): revalidate the staged rows against the
                # FRESH map before publishing. Combined with commit()'s
                # added-vs-constraints conflict class this closes the
                # race both ways — no row ever lands unvalidated.
                cons_now = _write_checks(self.table)
                sig_now = tuple(sorted(cons_now.items()))
                if validated != {sig_now}:
                    # staged files carry PHYSICAL names: re-bind the
                    # (logical) predicates before DuckDB evaluates them
                    m = txlog._l2p_map(self.table)
                    _check_constraints_duckdb(
                        {
                            n: txlog._rewrite_idents(pred, m)
                            for n, pred in cons_now.items()
                        },
                        parquet_paths=[
                            os.path.join(self.table, r) for r in added
                        ],
                        table=self.table,
                    )
                    validated = {sig_now}
            current = txlog._validate_append_schema(
                self.table, self.schema, merge_schema=self.merge_schema
            )
            schema_json = txlog._widened_schema_json(
                current, self.schema, merge_schema=self.merge_schema
            )
            txlog.commit(
                self.table, "append", added, [], parent,
                schema_json=schema_json, meta=batch_meta, pv=pv or None,
                stats=stats,
            )

        txlog._retry(self.table, "stream sink", attempt)
        if self.auto_compact:
            self._maybe_auto_compact()

    def _maybe_auto_compact(self):
        """Post-commit incremental compaction when the small-file tail
        crossed the threshold — SPARK-FREE (the Python DataSource's
        driver commit runs with no SparkSession): the tail is read,
        z-ordered, and rewritten with pyarrow alone. That is sound at
        any table size because the work is bounded by the TAIL, never
        the table — selection is one os.path.getsize per live file,
        the pass caps its input bytes (autoCompactMaxBytes), and
        at-target files are never touched.

        Semantics preserved exactly: files compact only WITHIN their
        recorded partition-value group (outputs inherit the group's
        pv, so pruning never degrades), DV-carrying and
        schema-divergent files are left for the real tx_optimize,
        row-tracking ids MATERIALIZE into the rewrite (base + index,
        the same coalesce rule as every reader), declared CLUSTER BY
        drives a numpy z-order (lexicographic fallback for
        non-numeric keys) and the clustering columns' stats ride the
        commit. A lost race abandons the pass (fresh orphans, vacuum
        reclaims); the data commit is already safely published."""
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        parent, files = txlog.snapshot_files(self.table)
        dvs = txlog.snapshot_dvs(self.table)
        sizes = {
            f: os.path.getsize(os.path.join(self.table, f)) for f in files
        }
        small = [
            f for f in files if f not in dvs and sizes[f] < self.ac_target
        ]
        if len(small) < self.ac_min_files:
            return
        # group by recorded partition values (unrecorded = own group)
        pv_map = txlog.snapshot_pv(self.table)
        groups: dict = {}
        for f in small:
            key = tuple(sorted((pv_map.get(f) or {}).items()))
            groups.setdefault(key, []).append(f)
        rt = txlog.table_row_tracking(self.table)
        bases = txlog.snapshot_base_row_ids(self.table) if rt else {}
        cluster = txlog.table_cluster_by(self.table)
        l2p = txlog._l2p_map(self.table)
        phys_cluster = [l2p.get(c, c) for c in cluster]
        added, removed, pv_out = [], [], {}
        budget = int(
            getattr(self, "ac_max_bytes", 512 << 20)
        )
        for key, rels in groups.items():
            rels = [r for r in rels if sizes[r] <= budget]
            take: list = []
            tot = 0
            for r in rels:
                if tot + sizes[r] > budget and take:
                    break
                take.append(r)
                tot += sizes[r]
            if len(take) < 2:
                continue
            tbls, kept = [], []
            schema0 = None
            for r in take:
                t = pq.read_table(os.path.join(self.table, r))
                if rt:
                    n = t.num_rows
                    base = bases.get(r)
                    names = set(t.column_names)
                    rid = (
                        t.column("__row_id")
                        if "__row_id" in names
                        else pa.nulls(n, type=pa.int64())
                    )
                    rcv = (
                        t.column("__row_commit")
                        if "__row_commit" in names
                        else pa.nulls(n, type=pa.int64())
                    )
                    if base is not None:
                        import pyarrow.compute as pc

                        b, cv = int(base[0]), int(base[1])
                        rid = pc.coalesce(
                            pc.cast(rid, pa.int64()),
                            pa.array(
                                range(b, b + n), type=pa.int64()
                            ),
                        )
                        rcv = pc.coalesce(
                            pc.cast(rcv, pa.int64()),
                            pa.array([cv] * n, type=pa.int64()),
                        )
                    t = t.drop_columns(
                        [c for c in ("__row_id", "__row_commit")
                         if c in names]
                    )
                    t = t.append_column("__row_id", rid).append_column(
                        "__row_commit", rcv
                    )
                if schema0 is None:
                    schema0 = t.schema
                elif t.schema != schema0:
                    continue  # schema drift: real OPTIMIZE's problem
                tbls.append(t)
                kept.append(r)
            if len(kept) < 2:
                continue
            merged = pa.concat_tables(tbls)
            merged = _z_sort_arrow(merged, phys_cluster)
            tag = __import__("uuid").uuid4().hex[:12]
            n_out = max(1, -(-tot // self.ac_target))
            rows_per = -(-merged.num_rows // n_out)
            for i in range(n_out):
                chunk = merged.slice(i * rows_per, rows_per)
                if chunk.num_rows == 0:
                    continue
                rel = f"{txlog.DATA}/{tag}-ac{i}.parquet"
                pq.write_table(
                    chunk, os.path.join(self.table, rel)
                )
                added.append(rel)
                if key:
                    # per-file metadata planes are PHYSICALLY keyed
                    # (the column-mapping contract: a later rename
                    # must invalidate nothing) — snapshot_pv served
                    # logical keys, so translate back before recording
                    pv_out[rel] = {l2p.get(c, c): v for c, v in key}
            removed.extend(kept)
        if not removed:
            return
        stats = (
            txlog.collect_file_stats(self.table, added, cluster)
            if cluster and added else None
        )
        try:
            txlog.commit(
                self.table, "compact", added, removed, parent,
                stats=stats, pv=pv_out or None,
            )
        except txlog.TxConflict:
            pass  # racing rewriter owns the tail; fresh orphans vacuum

    def abort(self, messages, batchId):
        import os

        for m in messages:
            for rel, _ in (m.files if m else ()):
                try:
                    os.remove(os.path.join(self.table, rel))
                except FileNotFoundError:
                    pass


class TxLogDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "txlog"

    def _cdc(self) -> bool:
        return (
            str(self.options.get("readchangefeed", "false")).lower()
            == "true"
        )

    def _row_ids(self) -> bool:
        return (
            str(self.options.get("withrowids", "false")).lower() == "true"
        )

    def schema(self):
        table = self.options.get("path")
        schema = txlog.table_schema(table) if table else None
        if schema is None:
            raise ValueError(
                f"no schema-bearing commits under {table!r}; create the "
                "table with txlog.tx_append first"
            )
        if self._cdc():
            if self._row_ids():
                raise ValueError(
                    "withRowIds does not compose with readChangeFeed "
                    "(the feed's rows are change images, not live rows)"
                )
            schema = T.StructType(
                schema.fields
                + [
                    T.StructField("_change_type", T.StringType()),
                    T.StructField("_commit_version", T.LongType()),
                ]
            )
        elif self._row_ids():
            if not txlog.table_row_tracking(self.options.get("path")):
                raise ValueError(
                    "withRowIds requires row tracking "
                    "(txlog.tx_enable_row_tracking first)"
                )
            schema = T.StructType(
                schema.fields
                + [
                    T.StructField("_row_id", T.LongType()),
                    T.StructField("_row_commit_version", T.LongType()),
                ]
            )
        return schema

    def reader(self, schema: T.StructType) -> DataSourceReader:
        return TxLogReader(self.options, schema)

    def streamReader(self, schema: T.StructType):
        if self._cdc():
            return TxLogChangeStreamReader(self.options, schema)
        if str(self.options.get("simple", "false")).lower() == "true":
            # raising NOT_IMPLEMENTED is the API's dispatch signal:
            # Spark falls back to simpleStreamReader (datasource_internal
            # _streamReader), giving callers the by-value control-plane
            # path on request
            raise PySparkNotImplementedError(
                errorClass="NOT_IMPLEMENTED",
                messageParameters={"feature": "streamReader"},
            )
        return TxLogStreamReader(self.options, schema)

    def simpleStreamReader(self, schema: T.StructType):
        return TxLogSimpleStreamReader(self.options, schema)

    def streamWriter(self, schema: T.StructType, overwrite: bool):
        if overwrite:
            raise ValueError(
                "txlog stream sink is append-only (the log IS the "
                "history); complete/update output modes are not "
                "representable as append commits"
            )
        return TxLogStreamWriter(self.options, schema)


def register_txlog_source(spark) -> None:
    """Idempotently register the ``txlog`` format for this session."""
    spark.dataSource.register(TxLogDataSource)
