"""Multi-writer transactional table log — optimistic concurrency for
the versioned lake: versions, per-file stats, row-level rewrites and
metadata sidecars all ride one append-only commit log.

Protocol (the public Delta Lake commit design, re-expressed for a
POSIX/HDFS-style filesystem):

- A table is a directory: immutable data files under ``data/``, an
  append-only commit log under ``_txlog/`` (one JSON file per commit,
  named by zero-padded version).
- Writers STAGE data files first (under ``_staging/<uuid>``, then an
  atomic same-filesystem rename into ``data/``). Staged/renamed files
  are INVISIBLE until a commit references them — a crashed writer
  leaves only orphans (reclaimed by :func:`tx_vacuum`), never a
  half-visible table.
- A commit is the ATOMIC CREATION of ``_txlog/N.json`` (``open(…,
  "x")`` — O_EXCL; on object stores substitute the store's
  compare-and-swap / put-if-absent primitive). Exactly one writer can
  create each N, so the log is a total order.
- A writer that loses the race re-reads the commits that interleaved
  since its snapshot and re-validates:

  * ``append`` commutes with everything (its files are fresh UUIDs);
  * two commits CONFLICT when their ``removed`` sets overlap — both
    rewrote/dropped the same immutable file (delete-vs-delete,
    delete-vs-compact, compact-vs-compact on the same region) — or
    on the other classes :class:`TxConflict` lists (deletion vectors,
    read sets, newest-wins metadata planes, reservations). The loser
    raises :class:`TxConflict`; every writer retries through one loop
    (:func:`_retry`) from a fresh snapshot, re-running its plan
    against the current file set and metadata.

  This is exactly serializable for the supported actions because data
  files are immutable: an interleaved commit that touched none of the
  files a writer removed cannot have observed or affected the rows the
  writer rewrote.
- Every ``checkpoint_every`` commits the winner also writes
  ``N.checkpoint.json`` — the whole replayed state at N (live files,
  their metadata, the table-level planes), published via tmp + fsync +
  ``os.replace`` — so reconstructing a snapshot replays at most
  ``checkpoint_every`` tail commits regardless of table age. At 100 TB
  the log stays kilobytes per commit: it names files, never rows, and
  the driver handles only file lists (bounded by file count, never
  data volume).

Reads are SNAPSHOT-ISOLATED for free: :func:`read_snapshot` resolves
the file list for a version once; since data files are immutable and
vacuum only deletes unreferenced orphans, a pinned DataFrame never
sees later commits.

Reference parity note: the reference engine has no storage versioning
at all (CSV in, CSV out — /root/reference/src/main.cpp); this module
extends the lake surface (sources/lake.py) that SURVEY §2.3 grades.
"""

from __future__ import annotations

import contextlib
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

from .lake import _INTEGRAL_BITS, empty_frame

TXLOG = "_txlog"
DATA = "data"
STAGING = "_staging"
SIDECARS = "_sidecars"
CHECKPOINT_EVERY = 10


class TxConflict(Exception):
    """An interleaved commit invalidated this one's plan — it removed
    the same files, added deletion vectors to (or removed) files this
    commit rewrites or vectors, added rows into this commit's read set
    (predicate scan, constraint or watermark validation, row-tracking
    backfill), recorded a different value of a newest-wins metadata
    plane this commit also records, or made a reservation (identity
    ids, COPY INTO sources) from the same read. Retry from a fresh
    snapshot (:func:`_retry`)."""


# Straight lost races after which a writer gives up (:func:`_retry`),
# and versions :func:`commit` probes past lost CAS races per call.
_MAX_RETRIES = 16
_MAX_CLAIMS = 64


def _retry(table: str, op: str, attempt):
    """The one optimistic-retry loop of every txlog writer: call
    ``attempt()`` — one whole pass of snapshot read, planning, staging
    and :func:`commit` — until it returns, re-running it from a fresh
    snapshot on :class:`TxConflict`; after ``_MAX_RETRIES`` straight
    conflicts raise one naming ``op``. An ``attempt`` never calls
    another retrying writer (nested loops would square the bound)."""
    for _ in range(_MAX_RETRIES):
        try:
            return attempt()
        except TxConflict:
            continue
    raise TxConflict(f"{op} on {table} lost {_MAX_RETRIES} straight races")


def _schema_eq(a_json: str, b_json: str) -> bool:
    """Structural schema equality (field order matters, string
    serialization quirks don't)."""
    if a_json == b_json:
        return True
    try:
        return StructType.fromJson(json.loads(a_json)) == StructType.fromJson(
            json.loads(b_json)
        )
    except Exception:
        return False


def _log_dir(table: str) -> str:
    return os.path.join(table, TXLOG)


def _commit_path(table: str, v: int) -> str:
    return os.path.join(_log_dir(table), f"{v:012d}.json")


def _ckpt_path(table: str, v: int) -> str:
    return os.path.join(_log_dir(table), f"{v:012d}.checkpoint.json")


def _init_table(table: str) -> None:
    os.makedirs(_log_dir(table), exist_ok=True)
    os.makedirs(os.path.join(table, DATA), exist_ok=True)


def log_versions(table: str) -> list[int]:
    """Committed versions, ascending — contiguous from 1 by
    construction, or from the retention horizon after
    :func:`tx_expire_versions` truncated the prefix (a checkpoint at
    the horizon keeps every remaining version resolvable)."""
    d = _log_dir(table)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f.split(".")[0])
        for f in os.listdir(d)
        if f.endswith(".json") and not f.endswith(".checkpoint.json")
    )


# Commit records are immutable once published (_try_create links them
# atomically; nothing ever rewrites a commit file in place), so parsed
# records are cached per (path, mtime_ns, size) — the stat guard makes
# the cache self-invalidating even if a file WERE replaced (RESTORE,
# retention, and clones always mint new paths, but the guard costs one
# stat and buys bulletproofness). This keeps a :func:`_replay` miss's
# checkpoint-tail fold at O(tail) stats instead of O(tail) JSON parses.
_COMMIT_CACHE: dict = {}
_COMMIT_CACHE_MAX = 4096


def read_commit(table: str, v: int) -> dict:
    """Parsed commit record. The TOP-LEVEL dict is a fresh copy per
    call (callers may pop/assign keys safely); the NESTED values
    (``pv``, ``added``, ``stats``, ...) are the shared cached objects
    and are READ-ONLY by contract — mutating them would corrupt every
    subsequent read of this commit process-wide. A deep copy here
    would cost what the cache saves on the hottest replay path."""
    path = _commit_path(table, v)
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    hit = _COMMIT_CACHE.get(key)
    if hit is not None:
        return dict(hit)
    with open(path) as fh:
        rec = json.load(fh)
    if len(_COMMIT_CACHE) >= _COMMIT_CACHE_MAX:
        _COMMIT_CACHE.clear()  # bounded; cold restart is just re-parsing
    _COMMIT_CACHE[key] = rec
    return dict(rec)


# Table-level metadata planes and their defaults, resolved NEWEST-WINS:
# a commit that changes one records its FULL new value, so the newest
# record at-or-before a version is the answer.
_NEWEST_WINS = {
    "schema": None, "partition_by": [], "constraints": {},
    "column_mapping": None, "retired_physical": None,
    "column_defaults": {}, "generated_columns": {}, "cluster_by": [],
    "identity_columns": {}, "identity_watermark": {},
    "row_tracking": False, "copy_into_sources": [], "row_id_watermark": 0,
}


def _seed(ck: dict) -> dict:
    """A mutable fold state seeded from a checkpoint record (``{}``:
    replay from the start of the log)."""
    return {
        "live": set(ck.get("live", [])),
        "stats": dict(ck.get("stats", {})),
        "dvs": dict(ck.get("dvs", {})),
        "blooms": {c: dict(m) for c, m in ck.get("blooms", {}).items()},
        "distincts": {
            c: dict(m) for c, m in ck.get("distincts", {}).items()
        },
        "txns": dict(ck.get("txns", {})),
        "pv": dict(ck.get("pv", {})),
        "base_row_id": dict(ck.get("base_row_id", {})),
        **{k: ck.get(k, d) for k, d in _NEWEST_WINS.items()},
    }


def _finish(s: dict) -> dict:
    """The resolved state of a fold, keys in checkpoint order: the
    per-file planes restricted to the live files."""
    live = s["live"]

    def on_live(d: dict) -> dict:
        return {f: x for f, x in d.items() if f in live}

    def sidecars(d: dict) -> dict:
        return {
            c: on_live(m) for c, m in d.items()
            if any(f in live for f in m)
        }

    return {
        "live": sorted(live),
        "stats": on_live(s["stats"]),
        "dvs": on_live(s["dvs"]),
        "blooms": sidecars(s["blooms"]),
        "distincts": sidecars(s["distincts"]),
        "schema": s["schema"],
        "txns": s["txns"],
        "pv": on_live(s["pv"]),
        **{k: s[k] for k in _NEWEST_WINS},
        "base_row_id": on_live(s["base_row_id"]),
    }


_EMPTY_STATE = _finish(_seed({}))

# Resolved states per (table, version, stat of the version's commit) —
# the _COMMIT_CACHE guard: a table rebuilt at the same path re-mints its
# commit files, so a stale entry can never serve. A state is O(live
# files); the bound keeps the memo a few tables' worth of versions.
_REPLAY_CACHE: dict = {}
_REPLAY_CACHE_MAX = 64


def _replay(table: str, v: int) -> dict:
    """The table's whole state at committed version ``v``, resolved in
    one forward fold: seed from the newest checkpoint at-or-before
    ``v`` (a checkpoint IS this state written out, see
    :func:`_write_checkpoint`), then apply the commits after it. Every
    ``snapshot_*``/``table_*`` reader is a field read of this state, so
    resolving a version costs O(tail commits) once, never O(table age),
    and a later reader of the same version costs one stat.

    Per-file planes (``live``, ``stats``, ``dvs``, ``pv``, Bloom and
    distinct sidecar pointers, ``base_row_id``) fold by removing a
    commit's ``removed`` files and adding its entries; ``txns`` keeps
    each app's highest batch; the metadata planes are newest-wins
    (:data:`_NEWEST_WINS`). Records keep PHYSICAL column keys.

    The result is the shared memoized object and is READ-ONLY: public
    readers hand out copies. A version outside the log raises
    ``FileNotFoundError`` (its commit record is absent)."""
    st = os.stat(_commit_path(table, v))
    key = (table, v, st.st_mtime_ns, st.st_size)
    hit = _REPLAY_CACHE.get(key)
    if hit is not None:
        return hit
    start, ck = 0, {}
    for c in range(v, 0, -1):
        if os.path.exists(_ckpt_path(table, c)):
            with open(_ckpt_path(table, c)) as fh:
                ck = json.load(fh)
            start = c
            break
    s = _seed(ck)
    for c in range(max(start, 1), v + 1):
        rec = read_commit(table, c)
        s.update({k: rec[k] for k in _NEWEST_WINS if k in rec})
        if c == start:
            # the checkpoint already folds this commit's files; its
            # metadata is applied over the checkpoint, which may
            # predate a plane being folded into checkpoints
            continue
        for f in rec["removed"]:
            s["live"].discard(f)
            for plane in ("stats", "dvs", "pv", "base_row_id"):
                s[plane].pop(f, None)
            for m in (*s["blooms"].values(), *s["distincts"].values()):
                m.pop(f, None)
        s["live"] |= set(rec["added"])
        s["stats"].update(rec.get("stats", {}))
        s["pv"].update(rec.get("pv", {}))
        s["base_row_id"].update(rec.get("base_row_id", {}))
        for f, pos in rec.get("dv", {}).items():
            s["dvs"][f] = sorted(set(s["dvs"].get(f, [])) | set(pos))
        for kind, plane in (("bloom", "blooms"), ("distinct", "distincts")):
            for col, entries in rec.get(kind, {}).items():
                m = s[plane].setdefault(col, {})
                for e in entries:
                    for f in e["files"]:
                        m[f] = e["sidecar"]
        if rec.get("txn_app") is not None and "txn_batch" in rec:
            a, b = rec["txn_app"], int(rec["txn_batch"])
            s["txns"][a] = max(s["txns"].get(a, b), b)
    if not s["schema"] and start > 1 and os.path.exists(
        _commit_path(table, start - 1)
    ):
        # a checkpoint from before schemas were folded into
        # checkpoints: the schema is the one resolved before it
        s["schema"] = _replay(table, start - 1)["schema"]
    state = _finish(s)
    if len(_REPLAY_CACHE) >= _REPLAY_CACHE_MAX:
        _REPLAY_CACHE.clear()  # bounded; cold restart is just re-folding
    _REPLAY_CACHE[key] = state
    return state


def _kept_versions(table: str, version: int | None) -> list[int]:
    """The committed versions (:func:`log_versions`); raises
    ``ValueError`` when ``version`` lies below the prefix
    :func:`tx_expire_versions` deleted, whose state no reader can
    resolve any more (a log that starts above 1 was truncated)."""
    versions = log_versions(table)
    truncated = bool(versions) and versions[0] > 1
    if truncated and version is not None and version < versions[0]:
        raise ValueError(
            f"version {version} not in log of {table}: expired, the "
            f"oldest kept version is {versions[0]}"
        )
    return versions


def _snapshot_state(table: str, version: int | None) -> dict:
    """The state a per-file reader answers from: exactly ``version``
    (latest when None). An expired version raises ``ValueError``, one
    above the head ``FileNotFoundError``."""
    versions = _kept_versions(table, version)
    if not versions:
        return _EMPTY_STATE
    return _replay(table, versions[-1] if version is None else version)


def _meta_state(table: str, version: int | None) -> dict:
    """The state a newest-wins metadata reader answers from: the newest
    committed version at-or-before ``version`` (latest when None). An
    empty log reads as the empty state — every plane at its default;
    an expired version raises ``ValueError``."""
    versions = _kept_versions(table, version)
    if version is not None:
        versions = [x for x in versions if x <= version]
    return _replay(table, versions[-1]) if versions else _EMPTY_STATE


def snapshot_files(table: str, version: int | None = None) -> tuple[int, list[str]]:
    """(version, live file relpaths) — the live set of the
    checkpoint-plus-tail replay (:func:`_replay`) at ``version``."""
    versions = _kept_versions(table, version)
    if not versions:
        return 0, []
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not in log (have {versions})")
    return v, list(_replay(table, v)["live"])


def _publish_json(path: str, payload: dict, publish) -> None:
    """Write ``payload`` whole to a private tmp file, fsync it, then
    ``publish(tmp, path)`` atomically. The tmp file never outlives the
    call, whether the write, the fsync or the publish raised."""
    tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
    try:
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
            fh.flush()
            os.fsync(fh.fileno())
        publish(tmp, path)
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)  # already gone after os.replace


def _try_create(path: str, payload: dict) -> bool:
    """Atomic put-if-absent of one commit file.

    The record must appear fully written or not at all: a concurrent
    loser (or any snapshot reader) may open the just-claimed version
    immediately, so O_CREAT|O_EXCL followed by a write would expose an
    empty/partial JSON window. Instead: write the full payload to a
    private tmp file, fsync it, then PUBLISH via ``os.link`` — hard
    links are atomic and fail with EEXIST when another writer already
    claimed the version (the put-if-absent primitive)."""
    try:
        _publish_json(path, payload, os.link)
        return True
    except FileExistsError:
        return False


def _write_checkpoint(table: str, v: int) -> None:
    """Publish ``v.checkpoint.json``: the replayed state at ``v``
    (:func:`_replay`) written out, so a replay seeded from it folds the
    same answer — file-level metadata in its recorded (physical-key)
    form. Written to a tmp file, fsynced, then published by
    ``os.replace``: after a crash the checkpoint is absent or whole,
    never an empty file every reader of the table would fail to
    parse."""
    _publish_json(
        _ckpt_path(table, v), {"version": v, **_replay(table, v)},
        os.replace,
    )


def snapshot_dvs(table: str, version: int | None = None) -> dict:
    """Deletion vectors live at a version: ``{relpath: [row_index,
    ...]}`` (sorted, deduplicated) — merge-on-read deletes recorded by
    :func:`tx_delete_where_mor`. Read from the checkpoint-plus-tail
    replay (:func:`_replay`); vectors for files a later commit removed
    are dropped (the rewrite already materialized the deletes)."""
    return {
        f: list(p)
        for f, p in _snapshot_state(table, version)["dvs"].items()
    }


def _rel_expr(table: str):
    """Scan-side expression turning ``_metadata.file_path`` (a URI,
    %-escaped) back into the table-relative path the log records. The
    URI leaves ``+`` bare, and ``url_decode`` (form decoding) reads a
    bare ``+`` as a space, so it is escaped first."""
    from pyspark.sql import functions as F

    prefix = "file:" + os.path.abspath(table) + "/"
    uri = F.replace(F.col("_metadata.file_path"), F.lit("+"), F.lit("%2B"))
    return F.replace(
        F.url_decode(uri),
        F.lit(prefix),
        F.lit(""),
    )


def _rel_frame(spark: SparkSession, rels: list[str], **longs) -> DataFrame:
    """Driver-side provenance rows as a frame: a ``__rel`` string
    column plus one int64 column per keyword. It is built from a
    ``pyarrow.Table``, so the rows reach the JVM as a local relation;
    a frame built from a Python list is a Python RDD, and joining it
    starts a Python-worker job on every read."""
    import pyarrow as pa

    return spark.createDataFrame(
        pa.table(
            {
                "__rel": pa.array(rels, pa.string()),
                **{k: pa.array(v, pa.int64()) for k, v in longs.items()},
            }
        )
    )


def _dv_frame(spark: SparkSession, dvs: dict) -> DataFrame:
    """``(__rel, __pos)`` rows of the deletion vectors ``dvs``."""
    return _rel_frame(
        spark,
        [f for f, pos in dvs.items() for _ in pos],
        __pos=[int(p) for pos in dvs.values() for p in pos],
    )


def _exclude_dvs(tagged: DataFrame, dvs: dict) -> DataFrame:
    """Drop the deletion-vector rows of a scan tagged with
    ``__rel``/``__pos``: a left-anti join against the broadcast
    exclusion rows."""
    from pyspark.sql import functions as F

    excl = _dv_frame(tagged.sparkSession, dvs)
    return tagged.join(F.broadcast(excl), ["__rel", "__pos"], "left_anti")


def _apply_dvs(df: DataFrame, table: str, dvs: dict) -> DataFrame:
    """Filter out deletion-vector rows: anti-join the scan (tagged with
    its file-relative path and row index) against the broadcast
    exclusion set. ``max_dv_rows`` bounds each delete's vector at
    write time, but :func:`snapshot_dvs` unions the vectors of every
    delete since a file's last rewrite, so the broadcast grows with
    the MOR deletes a file has taken until a rewrite of the file
    (compaction, purge, copy-on-write DML) drops its vector."""
    if not dvs:
        return df
    from pyspark.sql import functions as F

    cols = df.columns
    tagged = df.withColumn("__rel", _rel_expr(table)).withColumn(
        "__pos", F.col("_metadata.row_index")
    )
    return _exclude_dvs(tagged, dvs).select(*cols)


def _tagged_scan(reader, table: str, files: list[str], dvs: dict,
                 serve_version: int | None = None) -> DataFrame:
    """Raw scan of ``files`` with ``__rel``/``__pos`` provenance tags
    (resolved off ``_metadata`` BEFORE any projection hides it) and
    deletion vectors already excluded. ``serve_version`` pins the
    column-mapping resolution (time-travel reads)."""
    from pyspark.sql import functions as F

    df = reader.parquet(*[os.path.join(table, f) for f in files]).select(
        "*",
        _rel_expr(table).alias("__rel"),
        F.col("_metadata.row_index").alias("__pos"),
    )
    rel_set = set(files)
    dv = {f: p for f, p in dvs.items() if f in rel_set}
    if dv:
        df = _exclude_dvs(df, dv)
    return _serve_logical(df, table, serve_version)


def snapshot_stats(table: str, version: int | None = None) -> dict:
    """Per-file data-skipping stats for the live files of a version:
    ``{relpath: {"n": rows, "c": {col: [min, max]}}}`` — a field of
    the checkpoint-plus-tail replay (:func:`_replay`), so resolving
    stats is O(tail commits), never O(table age). Files committed
    without stats simply have no entry (readers must scan them —
    conservative, never wrong). Column keys are LOGICAL names (records
    store physical; see :func:`table_column_mapping`)."""
    raw = _snapshot_stats_raw(table, version)
    if table_column_mapping(table, version) is None:
        return raw
    return {
        f: {**s, "c": _keys_to_logical(table, s.get("c", {}), version)}
        for f, s in raw.items()
    }


def _snapshot_stats_raw(table: str, version: int | None = None) -> dict:
    """Stats exactly as recorded (PHYSICAL column keys) — the form
    checkpoints fold and commits carry."""
    return dict(_snapshot_state(table, version)["stats"])


def snapshot_pv(table: str, version: int | None = None) -> dict:
    """Per-file PARTITION VALUES live at a version: ``{relpath: {col:
    value-string | None}}`` (Delta's partitionValues). Files committed
    without values (rewrites, pre-partitioning history) have no entry
    — partition-pruned reads must scan them, conservative like
    stat-less files. Checkpoint-plus-tail replay (:func:`_replay`).
    Column keys are LOGICAL names (records store physical)."""
    return _pv_keys_to_logical(
        table, _snapshot_pv_raw(table, version), version
    )


def _snapshot_pv_raw(table: str, version: int | None = None) -> dict:
    """partitionValues exactly as recorded (PHYSICAL column keys)."""
    return dict(_snapshot_state(table, version)["pv"])


def table_partition_by(table: str, version: int | None = None) -> list[str]:
    """The table's declared partition columns (empty = unpartitioned):
    the newest commit at-or-before ``version`` that recorded them,
    read from the checkpoint-plus-tail replay (:func:`_replay`)."""
    return list(_meta_state(table, version)["partition_by"])


def table_constraints(table: str, version: int | None = None) -> dict:
    """The table's CHECK constraints ({name: sql_predicate}): the
    newest commit at-or-before ``version`` that recorded the map
    (every constraint commit stores the FULL updated map, so folding
    is newest-wins), read from the replay (:func:`_replay`)."""
    return dict(_meta_state(table, version)["constraints"])


def table_column_defaults(table: str, version: int | None = None) -> dict:
    """The table's COLUMN DEFAULTS ({col: sql_expr}): write-time
    defaults — an append may OMIT a defaulted column and the writer
    fills it (Delta/SQL-standard DEFAULT semantics: applied when the
    write does not supply the column, never backfilled into existing
    rows). Newest-wins full-map commits like constraints
    (:func:`_replay`)."""
    return dict(_meta_state(table, version)["column_defaults"])


def tx_set_default(
    table: str, col: str, sql_expr: str
) -> int:
    """ALTER TABLE ... SET DEFAULT: a metadata-only commit recording
    the column's write-time default expression (any deterministic SQL
    over literals and the row's OTHER supplied columns). Existing rows
    are untouched — defaults fill only future writes that omit the
    column."""
    schema = table_schema(table)
    if schema is None:
        raise FileNotFoundError(f"no schema committed under {table}")
    if col not in schema.fieldNames():
        raise ValueError(f"column {col!r} not in {table}")
    if col in table_generated_columns(table):
        raise ValueError(
            f"column {col!r} is GENERATED; a column is generated OR "
            "defaulted, not both (tx_drop_generated first)"
        )
    if col in table_identity(table):
        raise ValueError(
            f"column {col!r} is an IDENTITY column; identity is its "
            "own generator (tx_drop_identity first)"
        )

    def attempt():
        parent = (log_versions(table) or [0])[-1]
        d = table_column_defaults(table)
        d[col] = sql_expr
        return commit(
            table, "set_default", [], [], parent,
            meta={"column_defaults": d},
        )

    return _retry(table, "set_default", attempt)


def tx_drop_default(table: str, col: str) -> int:
    """ALTER TABLE ... DROP DEFAULT (metadata-only)."""

    def attempt():
        parent = (log_versions(table) or [0])[-1]
        d = table_column_defaults(table)
        d.pop(col, None)
        return commit(
            table, "drop_default", [], [], parent,
            meta={"column_defaults": d},
        )

    return _retry(table, "drop_default", attempt)


def table_generated_columns(
    table: str, version: int | None = None
) -> dict:
    """The table's GENERATED columns ({col: sql_expr} — Delta's
    GENERATED ALWAYS AS): the column's value IS the expression over
    the row's other columns. Writers fill it when omitted and REJECT
    a supplied value that disagrees (unlike a DEFAULT, which only
    fills). The canonical use: partition_by on a generated date column
    derived from an event timestamp — pruning by day without trusting
    writers to derive it consistently. Newest-wins full-map commits
    (:func:`_replay`)."""
    return dict(_meta_state(table, version)["generated_columns"])


def tx_set_generated(
    spark: SparkSession, table: str, col: str, sql_expr: str,
) -> int:
    """ALTER TABLE: declare ``col`` GENERATED ALWAYS AS (sql_expr) —
    validated against the CURRENT snapshot first (existing rows must
    already satisfy the generation, or nothing lands), then published
    as a metadata-only commit. Mutually exclusive with a DEFAULT on
    the same column (a generated value is never optional-with-
    fallback; it is the law)."""
    from pyspark.sql import functions as F

    schema = table_schema(table)
    if schema is None:
        raise FileNotFoundError(f"no schema committed under {table}")
    if col not in schema.fieldNames():
        raise ValueError(f"column {col!r} not in {table}")
    if col in table_column_defaults(table):
        raise ValueError(
            f"column {col!r} has a DEFAULT; a column is generated OR "
            "defaulted, not both (tx_drop_default first)"
        )
    if col in table_identity(table):
        raise ValueError(
            f"column {col!r} is an IDENTITY column; identity is its "
            "own generator (tx_drop_identity first)"
        )

    def attempt():  # data landing mid-validation re-runs it
        parent = (log_versions(table) or [0])[-1]
        g = table_generated_columns(table)
        g[col] = sql_expr
        if parent:
            snap = read_snapshot(spark, table)
            n_bad = snap.filter(
                ~F.expr(f"{col} IS NOT DISTINCT FROM ({sql_expr})")
            ).count()
            if n_bad:
                raise ValueError(
                    f"cannot declare {col!r} generated: {n_bad} existing "
                    f"row(s) violate {sql_expr!r}"
                )
        return commit(
            table, "set_generated", [], [], parent,
            meta={"generated_columns": g},
        )

    return _retry(table, "set_generated", attempt)


def tx_drop_generated(table: str, col: str) -> int:
    """Drop a column's GENERATED declaration (metadata-only)."""

    def attempt():
        parent = (log_versions(table) or [0])[-1]
        g = table_generated_columns(table)
        g.pop(col, None)
        return commit(
            table, "drop_generated", [], [], parent,
            meta={"generated_columns": g},
        )

    return _retry(table, "drop_generated", attempt)


def table_cluster_by(table: str, version: int | None = None) -> list:
    """The table's declared CLUSTERING columns (Delta liquid-
    clustering-style declaration): maintenance passes z-order on them
    by default and every append records their file stats
    automatically, so the table stays skippable on its access pattern
    without per-call arguments. Newest-wins; empty = undeclared."""
    return list(_meta_state(table, version)["cluster_by"])


def tx_set_cluster_by(table: str, cols: list) -> int:
    """ALTER TABLE ... CLUSTER BY: declare the clustering columns as
    table metadata (an explicit [] undeclares). Declaration only —
    existing files re-lay on the next tx_optimize/tx_compact, which
    default their z-order to this."""
    schema = table_schema(table)
    if schema is None:
        raise FileNotFoundError(f"no schema committed under {table}")
    missing = [c for c in cols if c not in schema.fieldNames()]
    if missing:
        raise ValueError(f"cluster columns {missing} not in {table}")

    def attempt():
        parent = (log_versions(table) or [0])[-1]
        return commit(
            table, "set_cluster_by", [], [], parent,
            meta={"cluster_by": list(cols)},
        )

    return _retry(table, "set_cluster_by", attempt)


def table_identity(table: str, version: int | None = None) -> dict:
    """The table's IDENTITY columns ({col: {"start", "step",
    "always"}} — Delta's GENERATED {ALWAYS | BY DEFAULT} AS IDENTITY):
    a write that omits the column gets engine-assigned BIGINT values,
    each unique and strictly beyond every previously generated value
    on the ``start + k*step`` lattice (gaps allowed — the Delta
    contract — so assignment never needs a global sort or a driver
    funnel). ALWAYS rejects a supplied value; BY DEFAULT accepts one
    (uniqueness then owed to the writer; :func:`tx_identity_sync`
    re-aligns the generator afterwards). Newest-wins full-map commits
    like constraints (:func:`_replay`)."""
    return {
        k: dict(x)
        for k, x in _meta_state(table, version)["identity_columns"].items()
    }


def identity_watermark(table: str, version: int | None = None) -> dict:
    """The identity HIGH WATERMARK per column ({col: furthest value
    the generator has handed out} — beyond it in the step's direction
    is guaranteed unassigned). Advanced by every append that generated
    values (derived from the staged files' parquet FOOTER stats — the
    write already paid for them) and by :func:`tx_identity_sync`.
    Never moves backward, including across RESTORE."""
    return dict(_meta_state(table, version)["identity_watermark"])


def _ident_next_base(start: int, step: int, wm: int) -> int:
    """Smallest lattice value start + k*step (k >= 0) strictly beyond
    ``wm`` in the step's direction. Floor division handles both
    directions: for step < 0 "beyond" means smaller."""
    return start + max(0, (wm - start) // step + 1) * step


def _ident_wm_from_stats(
    table: str, idents: dict, cols: list, stats: dict | None,
    ident_wm: dict, _p,
) -> dict:
    """The new identity watermark per generated column, derived from
    the staged files' already-collected FOOTER stats (the write paid
    for them) — with a per-file column read as the fallback when a
    footer suppressed them, bounded by the commit's own file count."""
    out: dict = {}
    for c in cols:
        phys = _p(c, c)
        step = int(idents[c]["step"])
        vals = [
            int(s["c"][phys][1 if step > 0 else 0])
            for s in (stats or {}).values()
            if phys in s.get("c", {})
        ]
        missing = [
            r for r, s in (stats or {}).items()
            if phys not in s.get("c", {})
        ]
        if missing:
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            for r in missing:
                colv = pq.read_table(
                    os.path.join(table, r), columns=[phys]
                )[phys]
                agg = pc.max(colv) if step > 0 else pc.min(colv)
                if agg.is_valid:
                    vals.append(int(agg.as_py()))
        wm0 = int(ident_wm.get(c, int(idents[c]["start"]) - step))
        out[c] = max([wm0] + vals) if step > 0 else min([wm0] + vals)
    return out


def _ident_meta(
    table: str, idents: dict, cols: list, stats: dict | None,
    ident_wm: dict,
) -> dict:
    """Commit meta advancing the identity watermark past the values a
    write assigned to ``cols`` (see :func:`_ident_wm_from_stats`)."""
    new_wm = _ident_wm_from_stats(
        table, idents, cols, stats, ident_wm,
        (_effective_mapping(table) or {}).get,
    )
    return {"identity_watermark": {**ident_wm, **new_wm}}


def copy_into_sources(table: str, version: int | None = None) -> set:
    """Source paths already loaded by :func:`tx_copy_into` — the
    newest-wins FULL set (each copy commit re-records the cumulative
    set, so resolution is one record read; checkpoints fold it like
    every other metadata plane)."""
    return set(_meta_state(table, version)["copy_into_sources"])


def tx_copy_into(
    spark: SparkSession,
    table: str,
    source: str,
    file_format: str = "parquet",
    pattern: str | None = None,
    force: bool = False,
    **append_kwargs,
) -> tuple[int, int]:
    """Databricks' ``COPY INTO``: idempotent bulk file ingestion. Every
    matching file under ``source`` that has NOT been loaded before is
    appended in one commit, and the commit re-records the cumulative
    loaded-file set — re-running the same COPY INTO (a retried
    pipeline, a cron double-fire) loads nothing twice, and newly
    landed files load exactly once. Idempotence is by SOURCE PATH
    (Delta's contract): a file's content changing under the same name
    is the producer's bug, not a reload trigger.

    Scale: the loaded-set is O(source files) driver metadata riding
    the commit (newest-wins, checkpoint-folded — resolution is one
    record read, not a log walk); the data load itself is a plain
    distributed read of only the NEW files. Two racing COPY INTOs
    conflict at the commit (copy-vs-copy class) and the loser re-plans
    against the winner's recorded set, so a file can never double-load
    under concurrency either.

    ``file_format``: parquet | csv (header) | json (jsonl).
    ``pattern``: glob within ``source`` (defaults to the format's
    extension). ``stats_cols`` passes through to the staged files'
    footer stats. Returns (version, n_files_loaded) — (head, 0) when
    nothing is new. ``force`` (Databricks' ``FORCE = true``) loads
    every matching file regardless of history — the explicit
    double-load escape hatch when a producer re-wrote files in
    place."""
    import glob as _glob

    pat = pattern or {
        "parquet": "*.parquet", "csv": "*.csv", "json": "*.json*",
    }.get(file_format, "*")
    # popped ONCE before the retry loop: a copy-vs-copy TxConflict
    # re-plans attempt 2+ with the SAME caller-requested stats_cols —
    # popping inside the loop silently dropped them after a lost race,
    # so the winning commit's files lacked the skipping stats the
    # caller asked for
    req_stats_cols = append_kwargs.pop("stats_cols", None)
    if append_kwargs:
        raise ValueError(
            f"unsupported COPY INTO kwargs {sorted(append_kwargs)}"
        )

    def attempt():  # a racing COPY landed: re-read its set, re-plan
        head = (log_versions(table) or [0])[-1]
        loaded = copy_into_sources(table)
        found = sorted(
            os.path.abspath(f)
            for f in _glob.glob(os.path.join(source, pat))
            if os.path.isfile(f)
        )
        todo = found if force else [f for f in found if f not in loaded]
        if not todo:
            return head, 0
        if file_format == "parquet":
            df = spark.read.parquet(*todo)
        elif file_format == "csv":
            df = spark.read.option("header", True).option(
                "inferSchema", True
            ).csv(todo)
        elif file_format == "json":
            df = spark.read.json(todo)
        else:
            raise ValueError(f"unsupported COPY INTO format {file_format!r}")
        schema = table_schema(table)
        if schema is not None:
            from pyspark.sql import functions as F

            want = {f.name: f.dataType for f in schema.fields}
            missing = [c for c in df.columns if c not in want]
            if missing:
                raise ValueError(
                    f"COPY INTO source carries columns {missing} not in "
                    f"{table}; evolve the schema first (tx_append "
                    "merge_schema) or fix the source"
                )
            df = df.select(*[
                F.col(c).cast(want[c]).alias(c) for c in df.columns
            ])
        # the append laws apply to bulk loads too (defaults, identity,
        # generated, constraints, strict schema)
        df, eff_stats, idents, ident_wm, ident_assigned = (
            _complete_append_laws(df, table, req_stats_cols)
        )
        added, pv = _stage_for(df, table)
        stats = (
            collect_file_stats(table, added, eff_stats)
            if eff_stats and added else None
        )
        schema = table_schema(table)
        meta = {"copy_into_sources": sorted(set(loaded) | set(todo))}
        if ident_assigned and added:
            meta.update(
                _ident_meta(table, idents, ident_assigned, stats, ident_wm)
            )
        # parent pinned at PLAN time (when the loaded set was
        # read): a racing COPY INTO claiming a later version is
        # then an interleaved commit the conflict loop validates —
        # copy-vs-copy fires, this loser re-reads the winner's set
        # and re-plans, so no file ever double-loads. (tx_append
        # re-reads the parent per attempt, which would make racing
        # copies invisible to each other — exactly the lost-update
        # this pinning prevents.)
        v = commit(
            table, "copy_into", added, [], head,
            schema_json=(
                schema.json() if schema is not None
                else df.schema.json()
            ),
            stats=stats, pv=pv or None, meta=meta,
        )
        return v, len(todo)

    return _retry(table, "copy_into", attempt)


def tx_set_identity(
    spark: SparkSession, table: str, col: str,
    start: int = 1, step: int = 1, always: bool = True,
) -> int:
    """ALTER TABLE: declare ``col`` GENERATED {ALWAYS | BY DEFAULT} AS
    IDENTITY (START WITH ``start`` INCREMENT BY ``step``). Metadata
    only — existing rows keep their values; the watermark initializes
    beyond them (one aggregate read of the current snapshot), so the
    first generated value never collides with history. The column must
    be BIGINT (Delta's rule — generated values are 64-bit) and must
    not carry a DEFAULT or GENERATED expression."""
    from pyspark.sql import functions as F

    if step == 0:
        raise ValueError("identity step must be nonzero")
    schema = table_schema(table)
    if schema is None:
        raise FileNotFoundError(f"no schema committed under {table}")
    if col not in schema.fieldNames():
        raise ValueError(f"column {col!r} not in {table}")
    if schema[col].dataType.simpleString() != "bigint":
        raise ValueError(
            f"identity column {col!r} must be BIGINT, is "
            f"{schema[col].dataType.simpleString()} (64-bit generated "
            "values are the Delta contract)"
        )
    if col in table_column_defaults(table):
        raise ValueError(
            f"column {col!r} has a DEFAULT; drop it first — identity "
            "is its own generator"
        )
    if col in table_generated_columns(table):
        raise ValueError(
            f"column {col!r} is GENERATED; drop that first — identity "
            "is its own generator"
        )

    def attempt():  # data landed mid-scan: re-read the max
        parent = (log_versions(table) or [0])[-1]
        ids = table_identity(table)
        wm_map = identity_watermark(table)
        wm = start - step
        if parent:
            agg = F.max(col) if step > 0 else F.min(col)
            row = read_snapshot(spark, table).agg(agg.alias("m")).collect()
            m = row[0]["m"] if row else None
            if m is not None:
                m = int(m)
                wm = max(wm, m) if step > 0 else min(wm, m)
        ids[col] = {
            "start": int(start), "step": int(step), "always": bool(always)
        }
        wm_map[col] = int(wm)
        return commit(
            table, "set_identity", [], [], parent,
            meta={"identity_columns": ids, "identity_watermark": wm_map},
        )

    return _retry(table, "set_identity", attempt)


def tx_drop_identity(table: str, col: str) -> int:
    """Drop a column's IDENTITY declaration (metadata-only). The
    column keeps its values and becomes an ordinary BIGINT; the
    watermark entry drops with it (a later re-declaration re-scans)."""

    def attempt():
        parent = (log_versions(table) or [0])[-1]
        ids = table_identity(table)
        ids.pop(col, None)
        wm = identity_watermark(table)
        wm.pop(col, None)
        return commit(
            table, "drop_identity", [], [], parent,
            meta={"identity_columns": ids, "identity_watermark": wm},
        )

    return _retry(table, "drop_identity", attempt)


def tx_identity_sync(
    spark: SparkSession, table: str, col: str | None = None,
) -> int:
    """ALTER TABLE ... SYNC IDENTITY: re-align the watermark with the
    column's actual extreme — after BY DEFAULT writers supplied their
    own values, the generator must not re-issue them. One aggregate
    read; the watermark only ever advances (Delta's rule: SYNC never
    moves it backward, so already-promised ranges stay promised)."""
    from pyspark.sql import functions as F

    def attempt():  # a generating append raced the scan: re-read
        parent = (log_versions(table) or [0])[-1]
        ids = table_identity(table)
        if col is not None and col not in ids:
            raise ValueError(f"column {col!r} is not an identity column")
        cols = [col] if col else sorted(ids)
        wm = identity_watermark(table)
        if cols and parent:
            aggs = [
                (F.max(c) if ids[c]["step"] > 0 else F.min(c)).alias(c)
                for c in cols
            ]
            row = read_snapshot(spark, table).agg(*aggs).collect()[0]
            for c in cols:
                m = row[c]
                if m is None:
                    continue
                step = ids[c]["step"]
                old = wm.get(c, ids[c]["start"] - step)
                wm[c] = max(old, int(m)) if step > 0 else min(old, int(m))
        return commit(
            table, "identity_sync", [], [], parent,
            meta={"identity_watermark": wm},
        )

    return _retry(table, "identity_sync", attempt)


def table_row_tracking(table: str, version: int | None = None) -> bool:
    """Whether ROW TRACKING (Delta's row IDs) is enabled: every row
    carries a stable ``_row_id`` — assigned at first write from a
    per-file ``base_row_id`` plus the row's position, MATERIALIZED
    into rewritten files so compaction/z-order/update/repartition
    never change a row's identity — and a ``_row_commit_version``
    (the commit that produced the row's current image). Newest-wins
    boolean (:func:`_replay`)."""
    return _meta_state(table, version)["row_tracking"]


def row_id_watermark(table: str, version: int | None = None) -> int:
    """The next unassigned base row id (fresh files' bases start
    here). Newest-wins scalar, advanced by every data-adding commit
    on a tracked table; monotone across RESTORE."""
    return _meta_state(table, version)["row_id_watermark"]


def snapshot_base_row_ids(table: str, version: int | None = None) -> dict:
    """Per-file row-id assignment live at a version: ``{relpath:
    [base_row_id, commit_version]}`` — fresh rows in the file read as
    ``base + row_index``; a ``__row_id`` column MATERIALIZED in the
    file (rewrites carry it) takes precedence. Checkpoint-plus-tail
    replay (:func:`_replay`)."""
    return {
        f: list(b)
        for f, b in _snapshot_state(table, version)["base_row_id"].items()
    }


# physical-only columns a rewrite materializes into its files so row
# identity survives the rewrite; never part of the logical schema
_ROW_ID_COL = "__row_id"
_ROW_COMMIT_COL = "__row_commit"


def tx_enable_row_tracking(table: str) -> int:
    """ALTER TABLE: enable ROW TRACKING. One metadata commit: every
    LIVE file gets its ``base_row_id`` backfilled from the parquet
    footer's row count (one footer read per file, no data scan), and
    every future data-adding commit assigns bases automatically
    (:func:`commit` hook). Existing rows' ids are therefore stable
    from this commit on; time travel BEFORE it has no row ids."""
    import pyarrow.parquet as pq

    def attempt():  # files changed mid-backfill: recompute
        parent = (log_versions(table) or [0])[-1]
        if table_row_tracking(table):
            return parent  # idempotent
        wm = row_id_watermark(table)
        _, live = snapshot_files(table, parent)
        live_set = set(live)
        added_at: dict = {}
        # which SURVIVING commit added each live file — walk the
        # surviving log only (tx_expire_versions may have truncated
        # the prefix; files added below the horizon fall back to the
        # enabling commit's own version), newest first, stopping as
        # soon as every live file is attributed
        missing = len(live_set)
        for c in reversed(log_versions(table)):
            if missing == 0:
                break
            rec = read_commit(table, c)
            for f in rec["added"]:
                if f in live_set and f not in added_at:
                    added_at[f] = c
                    missing -= 1
        base: dict = {}
        for f in sorted(live):
            n = pq.ParquetFile(os.path.join(table, f)).metadata.num_rows
            base[f] = [wm, added_at.get(f, parent)]
            wm += n
        return commit(
            table, "enable_row_tracking", [], [], parent,
            meta={
                "row_tracking": True,
                "base_row_id": base,
                "row_id_watermark": wm,
            },
        )

    return _retry(table, "enable_row_tracking", attempt)


def _apply_generated(df: DataFrame, table: str) -> tuple:
    """Fill-or-enforce the table's generated columns on incoming
    rows: an OMITTED generated column computes per row; a SUPPLIED
    one must equal its expression on every row (one job checks all,
    null-safe) or the write is rejected before staging. Returns
    (df, enforced_map) — the map feeds the same race-revalidation
    pattern as constraints."""
    from pyspark.sql import functions as F

    gmap = table_generated_columns(table)
    if not gmap:
        return df, {}
    schema = table_schema(table)
    types = (
        {f.name: f.dataType for f in schema.fields}
        if schema is not None else {}
    )
    checks = []
    for c, expr in gmap.items():
        if c not in df.columns:
            gen = F.expr(expr)
            df = df.withColumn(
                c, gen.cast(types[c]) if c in types else gen
            )
        else:
            checks.append(c)
    if checks:
        agg = df.select(
            *[
                (~F.expr(f"{c} IS NOT DISTINCT FROM ({gmap[c]})"))
                .cast("long").alias(f"__g_{i}")
                for i, c in enumerate(checks)
            ]
        ).agg(
            *[F.sum(f"__g_{i}").alias(f"n_{i}") for i in range(len(checks))]
        ).collect()[0]
        bad = {
            checks[i]: int(agg[f"n_{i}"] or 0)
            for i in range(len(checks))
            if (agg[f"n_{i}"] or 0) > 0
        }
        if bad:
            raise ValueError(
                f"GENERATED column violation on {table}: "
                + ", ".join(
                    f"{c} != ({gmap[c]}) on {n} row(s)"
                    for c, n in sorted(bad.items())
                )
            )
    return df, gmap


def table_column_mapping(
    table: str, version: int | None = None
) -> tuple[dict, list] | None:
    """COLUMN MAPPING state at a version: ``({logical: physical},
    retired_physical_names)`` — or ``None`` when the table has never
    mapped (identity; every read/write fast-path skips translation).

    Delta's column mapping (name mode) re-expressed for this log
    (reference has nothing comparable — its CSV headers are fixed,
    ``/root/reference/src/headers/duckdb_manager.cpp:52-140``): data
    files carry stable PHYSICAL column names; RENAME and DROP are
    metadata-only commits that re-point the logical→physical map — no
    data rewrite, O(1) regardless of table size. ALL per-file metadata
    in commit records (partitionValues, file stats, bloom/distinct
    sidecar keys) is keyed by PHYSICAL name, so layout metadata
    recorded before a rename stays valid after it; the public
    ``snapshot_*`` faces translate to logical on the way out.
    ``retired`` accumulates physical names whose logical column was
    dropped — re-adding the same logical name later mints a FRESH
    physical name, so old files' bytes never resurrect under the new
    column (Delta's column-id guarantee, by name instead of id).

    Newest-wins resolution like constraints (every mapping commit
    stores the FULL map + full retired list), read from the memoized
    checkpoint-plus-tail replay (:func:`_replay`), so the probe costs
    one stat on the hot stage/read paths. The returned (dict, list)
    are the shared memoized objects and are READ-ONLY by contract
    (every internal mutator copies first)."""
    s = _meta_state(table, version)
    if s["column_mapping"] is None:
        return None
    return s["column_mapping"], s["retired_physical"]


def _l2p_map(table: str, version: int | None = None) -> dict:
    """{logical: physical} restricted to names that DIFFER — empty
    means identity (the common case; callers skip all rename work)."""
    cm = table_column_mapping(table, version)
    if not cm:
        return {}
    return {l: p for l, p in cm[0].items() if l != p}


def _physical_schema(table: str, schema, version: int | None = None):
    """The schema with logical field names swapped to the PHYSICAL
    names stored inside the data files (identity -> returned as-is)."""
    m = _l2p_map(table, version)
    if not m or schema is None:
        return schema
    from pyspark.sql.types import StructField

    return StructType(
        [
            StructField(
                m.get(f.name, f.name), f.dataType, f.nullable, f.metadata
            )
            for f in schema.fields
        ]
    )


def _data_reader(spark: SparkSession, table: str, schema,
                 version: int | None = None, row_ids: bool = False):
    """``spark.read`` carrying the PHYSICAL serve schema for this
    table's data files — pair with :func:`_serve_logical` after the
    scan. Identity tables read exactly as before. ``row_ids`` extends
    the read schema with the materialized row-tracking columns
    (``__row_id``/``__row_commit``) — files that lack them serve NULL
    under the explicit schema, exactly what the coalesce-with-base
    read rule needs."""
    phys = _physical_schema(table, schema, version)
    if row_ids:
        from pyspark.sql.types import LongType, StructField

        eff = phys if phys is not None else schema
        phys = StructType(
            list(eff.fields)
            + [
                StructField(_ROW_ID_COL, LongType()),
                StructField(_ROW_COMMIT_COL, LongType()),
            ]
        )
    return spark.read if phys is None else spark.read.schema(phys)


def _materialize_row_ids(
    df: DataFrame, table: str, version: int | None = None
) -> DataFrame:
    """Resolve the two row-tracking columns on a TAGGED scan (has
    ``__rel``/``__pos``) into solid values: a file's MATERIALIZED
    ``__row_id``/``__row_commit`` wins (a rewrite carried the row's
    identity); otherwise ``base_row_id + row position`` and the
    adding commit's version, joined in from the log's per-file base
    map (broadcast — O(files) rows of metadata). A rewrite that
    stages this frame preserves row identity by construction. No-op
    when the scan was not row-id-extended."""
    if _ROW_ID_COL not in df.columns:
        return df
    from pyspark.sql import functions as F

    base = snapshot_base_row_ids(table, version)
    if base:
        bdf = _rel_frame(
            df.sparkSession,
            list(base),
            __rt_base=[int(b) for b, _ in base.values()],
            __rt_cv=[int(cv) for _, cv in base.values()],
        )
        df = df.join(F.broadcast(bdf), ["__rel"], "left")
    else:
        df = df.withColumn(
            "__rt_base", F.lit(None).cast("long")
        ).withColumn("__rt_cv", F.lit(None).cast("long"))
    return (
        df.withColumn(
            _ROW_ID_COL,
            F.coalesce(
                F.col(_ROW_ID_COL), F.col("__rt_base") + F.col("__pos")
            ),
        )
        .withColumn(
            _ROW_COMMIT_COL,
            F.coalesce(F.col(_ROW_COMMIT_COL), F.col("__rt_cv")),
        )
        .drop("__rt_base", "__rt_cv")
    )


def _serve_logical(df: DataFrame, table: str,
                   version: int | None = None) -> DataFrame:
    """Rename physical columns back to their logical names (no-op on
    identity tables). Provenance tags (``__rel``/``__pos``) and any
    non-mapped column pass through untouched. One SELECT with aliases,
    applied SIMULTANEOUSLY — sequential withColumnsRenamed would
    collide when one column's physical name equals another column's
    logical name (rename a->b where 'b' was later re-added)."""
    m = _l2p_map(table, version)
    if not m:
        return df
    from pyspark.sql import functions as F

    p2l = {p: l for l, p in m.items()}
    if not any(c in p2l for c in df.columns):
        return df
    return df.select(
        *[F.col(c).alias(p2l.get(c, c)) for c in df.columns]
    )


def _live_rows(
    spark: SparkSession, table: str, schema, files: list[str], dvs: dict
) -> DataFrame:
    """The live rows of ``files`` for a layout rewrite: deletion
    vectors applied and logical names served; under row tracking each
    row carries its materialized id and commit version, so the
    rewrite never changes a row's identity or "last modified"."""
    rt = table_row_tracking(table)
    reader = _data_reader(spark, table, schema, row_ids=rt)
    if rt:
        return _materialize_row_ids(
            _tagged_scan(reader, table, files, dvs), table
        ).drop("__rel", "__pos")
    return _serve_logical(_apply_dvs(
        reader.parquet(*[os.path.join(table, f) for f in files]),
        table, dvs,
    ), table)


def _to_physical_df(df: DataFrame, mapping: dict | None) -> DataFrame:
    """Rename a logical DataFrame's columns to physical names before
    staging (``mapping`` = full logical→physical map or None). One
    SELECT with aliases — simultaneous, so a swap-shaped mapping
    (logical X -> physical Y while logical Y -> fresh physical) never
    trips the sequential-rename collision."""
    if not mapping:
        return df
    ren = {
        l: p for l, p in mapping.items() if l != p and l in df.columns
    }
    if not ren:
        return df
    from pyspark.sql import functions as F

    return df.select(
        *[F.col(c).alias(ren.get(c, c)) for c in df.columns]
    )


def _l2p_col(table: str, col: str, version: int | None = None) -> str:
    """One logical column's physical name (itself when unmapped)."""
    cm = table_column_mapping(table, version)
    return cm[0].get(col, col) if cm else col


def _effective_mapping(table: str) -> dict | None:
    """The committed full logical→physical map, or None (identity)."""
    cm = table_column_mapping(table)
    return dict(cm[0]) if cm else None


def _keys_to_logical(table: str, d: dict,
                     version: int | None = None) -> dict:
    """Translate a {physical_col: ...} metadata map to logical keys.
    Physical names not currently mapped (dropped columns' metadata)
    are omitted — they are unreachable from the logical schema."""
    cm = table_column_mapping(table, version)
    if not cm:
        return d
    p2l = {p: l for l, p in cm[0].items()}
    return {p2l[k]: v for k, v in d.items() if k in p2l}


def _pv_keys_to_logical(table: str, pv: dict,
                        version: int | None = None) -> dict:
    """Translate recorded partitionValues ({rel: {physical: val}}) to
    logical column keys (identity fast path)."""
    cm = table_column_mapping(table, version)
    if not cm:
        return pv
    p2l = {p: l for l, p in cm[0].items()}
    return {
        rel: {p2l.get(c, c): v for c, v in vals.items()}
        for rel, vals in pv.items()
    }


def _rewrite_idents(sql: str, renames: dict) -> str:
    """Rewrite bare identifiers in a SQL predicate, OUTSIDE
    single-quoted string literals (re-binding CHECK constraints across
    a column rename). Word-boundary match so ``qty`` never clobbers
    ``qty2`` or ``net_qty``; backquoted identifiers are rewritten
    too."""
    import re

    if not renames:
        return sql
    pat = re.compile(
        "('(?:[^']|'')*')|`([^`]*)`|\\b(" +
        "|".join(re.escape(k) for k in renames) + ")\\b"
    )

    def sub(m):
        if m.group(1) is not None:
            return m.group(1)  # string literal: untouched
        if m.group(2) is not None:
            inner = m.group(2)
            return "`" + renames.get(inner, inner) + "`"
        return renames[m.group(3)]

    return pat.sub(sub, sql)


def _constraint_refs(sql: str, col: str) -> bool:
    """Does a CHECK predicate reference ``col`` as a bare identifier
    (outside string literals)?"""
    return _rewrite_idents(sql, {col: "\x00probe\x00"}) != sql


def tx_add_column(
    table: str, col: str, type_ddl: str
) -> int:
    """ALTER TABLE ... ADD COLUMN: additive schema evolution as ONE
    metadata-only commit — no file is touched; files written before
    the commit serve NULL for the new column (the same null-fill
    contract merge_schema appends established). Under column mapping
    the new logical name mints a FRESH physical name when the name was
    ever used before, so a dropped column's old bytes never resurrect
    through a re-add."""
    from pyspark.sql.types import _parse_datatype_string

    dt = _parse_datatype_string(type_ddl)

    def attempt():
        parent = (log_versions(table) or [0])[-1]
        schema = table_schema(table)
        if schema is None:
            raise FileNotFoundError(f"no schema committed under {table}")
        if col in schema.fieldNames():
            raise ValueError(f"column {col!r} already exists in {table}")
        new_schema = StructType(
            schema.fields + [StructField(col, dt, True)]
        )
        meta: dict = {}
        cm = table_column_mapping(table)
        if cm:
            mapping, retired = dict(cm[0]), list(cm[1])
            used = set(mapping.values()) | set(retired)
            phys = col
            while phys in used:
                phys = f"{col}_{uuid.uuid4().hex[:8]}"
            mapping[col] = phys
            meta = {"column_mapping": mapping, "retired_physical": retired}
        return commit(
            table, "add_column", [], [], parent,
            schema_json=new_schema.json(), meta=meta or None,
        )

    return _retry(table, "add_column", attempt)


def tx_alter_column_type(
    table: str, col: str, type_ddl: str
) -> int:
    """ALTER TABLE ... ALTER COLUMN ... TYPE: explicit type WIDENING
    as a metadata-only commit — only the safe ladders merge_schema
    evolution already honors (integer byte<short<int<long,
    float<double: the parquet reader upcasts old narrow files at scan
    time, so not a byte rewrites). Anything else is rejected."""
    from pyspark.sql.types import _parse_datatype_string

    want = _parse_datatype_string(type_ddl)

    def attempt():
        parent = (log_versions(table) or [0])[-1]
        schema = table_schema(table)
        if schema is None:
            raise FileNotFoundError(f"no schema committed under {table}")
        if col not in schema.fieldNames():
            raise ValueError(f"column {col!r} not in {table}")
        cur = schema[col].dataType
        widened = _widen_type(cur, want)
        if widened is None or widened != want:
            raise ValueError(
                f"cannot alter {col!r} from "
                f"{cur.simpleString()} to {want.simpleString()}: only "
                "safe widenings (byte<short<int<long, float<double) "
                "are metadata-only"
            )
        if widened == cur:
            return parent  # already that type: no-op
        new_schema = StructType([
            StructField(f.name, want if f.name == col else f.dataType,
                        f.nullable, f.metadata)
            for f in schema.fields
        ])
        return commit(
            table, "alter_column_type", [], [], parent,
            schema_json=new_schema.json(),
        )

    return _retry(table, "alter_column_type", attempt)


def tx_rename_column(
    spark: SparkSession, table: str, old: str, new: str,
) -> int:
    """ALTER TABLE RENAME COLUMN without rewriting a byte: one
    metadata commit re-points the logical name at the column's stable
    physical name (Delta's column-mapping rename). Declared partition
    columns follow the rename (their pruning metadata is keyed
    physically, so recorded partitionValues stay valid), and CHECK
    constraints RE-BIND — each predicate's identifier occurrences
    rewrite to the new name, so enforcement continues uninterrupted.
    Reads at old versions (time travel) serve the old name; reads at
    or after this commit serve the new one."""

    def attempt():  # interleaved commit: re-read schema and retry
        parent = (log_versions(table) or [0])[-1]
        schema = table_schema(table)
        if schema is None:
            raise FileNotFoundError(f"no schema committed under {table}")
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"column {old!r} not in {table} ({names})")
        if new in names:
            raise ValueError(f"column {new!r} already exists in {table}")
        cm = table_column_mapping(table)
        mapping, retired = (
            (dict(cm[0]), list(cm[1])) if cm
            else ({c: c for c in names}, [])
        )
        mapping[new] = mapping.pop(old)
        from pyspark.sql.types import StructField

        new_schema = StructType(
            [
                StructField(
                    new if f.name == old else f.name,
                    f.dataType, f.nullable, f.metadata,
                )
                for f in schema.fields
            ]
        )
        cons = table_constraints(table)
        new_cons = {
            n: _rewrite_idents(p, {old: new}) for n, p in cons.items()
        }
        pb = table_partition_by(table)
        new_pb = [new if c == old else c for c in pb]
        # column DEFAULTS follow the rename: the defaulted column's
        # key moves, and expressions referencing the old name re-bind
        dfl = table_column_defaults(table)
        new_dfl = {
            (new if c == old else c): _rewrite_idents(e, {old: new})
            for c, e in dfl.items()
        }
        gen = table_generated_columns(table)
        new_gen = {
            (new if c == old else c): _rewrite_idents(e, {old: new})
            for c, e in gen.items()
        }
        meta = {
            "column_mapping": mapping,
            "retired_physical": retired,
            "renamed": {"from": old, "to": new},
        }
        if new_dfl != dfl:
            meta["column_defaults"] = new_dfl
        if new_gen != gen:
            meta["generated_columns"] = new_gen
        cb = table_cluster_by(table)
        new_cb = [new if c == old else c for c in cb]
        if new_cb != cb:
            meta["cluster_by"] = new_cb
        # identity follows the rename: declaration and watermark are
        # keyed by logical name (the generator state is the column's,
        # whatever it is called)
        ids = table_identity(table)
        if old in ids:
            meta["identity_columns"] = {
                (new if c == old else c): spec for c, spec in ids.items()
            }
            wm = identity_watermark(table)
            meta["identity_watermark"] = {
                (new if c == old else c): w for c, w in wm.items()
            }
        return commit(
            table, "rename_column", [], [], parent,
            schema_json=new_schema.json(),
            meta=meta,
            constraints=new_cons if new_cons != cons else None,
            partition_by=new_pb if new_pb != pb else None,
        )

    return _retry(table, "rename_column", attempt)


def tx_drop_column(
    spark: SparkSession, table: str, col: str,
) -> int:
    """ALTER TABLE DROP COLUMN without rewriting a byte: one metadata
    commit removes the logical column from the schema and the mapping
    and RETIRES its physical name. The bytes stay in the files but are
    unreachable (explicit-schema reads column-prune them — dropped
    data costs zero I/O at any scale); re-adding the same logical name
    later mints a fresh physical name, so the old bytes never
    resurrect. Declared partition columns cannot drop (repartition
    first), and a CHECK constraint referencing the column blocks the
    drop (drop the constraint first) — both Delta's rules."""

    def attempt():
        parent = (log_versions(table) or [0])[-1]
        schema = table_schema(table)
        if schema is None:
            raise FileNotFoundError(f"no schema committed under {table}")
        names = [f.name for f in schema.fields]
        if col not in names:
            raise ValueError(f"column {col!r} not in {table} ({names})")
        if len(names) == 1:
            raise ValueError(f"cannot drop {table}'s only column")
        if col in table_partition_by(table):
            raise ValueError(
                f"column {col!r} is a declared partition column of "
                f"{table}; tx_repartition_table first"
            )
        offending = [
            n for n, p in table_constraints(table).items()
            if _constraint_refs(p, col)
        ]
        if offending:
            raise ValueError(
                f"column {col!r} is referenced by CHECK constraint(s) "
                f"{offending}; tx_drop_constraint first"
            )
        cm = table_column_mapping(table)
        mapping, retired = (
            (dict(cm[0]), list(cm[1])) if cm
            else ({c: c for c in names}, [])
        )
        retired.append(mapping.pop(col))
        new_schema = StructType(
            [f for f in schema.fields if f.name != col]
        )
        meta = {
            "column_mapping": mapping,
            "retired_physical": retired,
            "dropped": col,
        }
        dfl = table_column_defaults(table)
        offending_dfl = [
            c for c, e in dfl.items()
            if c != col and _constraint_refs(e, col)
        ]
        if offending_dfl:
            raise ValueError(
                f"column {col!r} is referenced by the DEFAULT of "
                f"{offending_dfl}; tx_drop_default first"
            )
        if col in dfl:
            meta["column_defaults"] = {
                c: e for c, e in dfl.items() if c != col
            }
        gen = table_generated_columns(table)
        offending_gen = [
            c for c, e in gen.items()
            if c != col and _constraint_refs(e, col)
        ]
        if offending_gen:
            raise ValueError(
                f"column {col!r} is referenced by the GENERATED "
                f"expression of {offending_gen}; tx_drop_generated first"
            )
        if col in gen:
            meta["generated_columns"] = {
                c: e for c, e in gen.items() if c != col
            }
        cb = table_cluster_by(table)
        if col in cb:
            meta["cluster_by"] = [c for c in cb if c != col]
        ids = table_identity(table)
        if col in ids:
            meta["identity_columns"] = {
                c: s for c, s in ids.items() if c != col
            }
            meta["identity_watermark"] = {
                c: w for c, w in identity_watermark(table).items()
                if c != col
            }
        return commit(
            table, "drop_column", [], [], parent,
            schema_json=new_schema.json(),
            meta=meta,
        )

    return _retry(table, "drop_column", attempt)


def _enforce_constraints(df: DataFrame, table: str) -> dict:
    """Validate incoming rows against the table's CHECK constraints
    BEFORE anything stages (fail fast, nothing lands). SQL CHECK
    semantics: a row passes when the predicate is TRUE **or NULL**;
    only FALSE violates. One job validates every constraint at once.
    Returns the map that was enforced (the caller records nothing —
    constraints live in their own commits — but needs it for the
    conflict check)."""
    from pyspark.sql import functions as F

    cons = table_constraints(table)
    if not cons:
        return {}
    names = sorted(cons)
    flags = [
        (~F.coalesce(F.expr(cons[n]), F.lit(True))).alias(f"__viol_{i}")
        for i, n in enumerate(names)
    ]
    agg = df.select(*flags).agg(
        *[
            F.sum(F.col(f"__viol_{i}").cast("long")).alias(f"n_{i}")
            for i in range(len(names))
        ]
    ).collect()[0]
    bad = {
        names[i]: int(agg[f"n_{i}"] or 0)
        for i in range(len(names))
        if (agg[f"n_{i}"] or 0) > 0
    }
    if bad:
        raise ValueError(
            f"CHECK constraint violation on {table}: "
            + ", ".join(
                f"{n} ({cons[n]!r}) fails {c} row(s)"
                for n, c in sorted(bad.items())
            )
        )
    return cons


def tx_set_constraint(
    spark: SparkSession, table: str, name: str, predicate_sql: str,
) -> int:
    """ADD/replace a CHECK constraint (Delta's ALTER TABLE ADD
    CONSTRAINT): validated against the CURRENT snapshot first — a
    constraint the existing data violates is rejected, nothing lands —
    then published as a metadata-only commit carrying the full updated
    map. Every subsequent append/update/merge enforces it on the
    incoming rows; a data commit racing a constraint commit conflicts
    (either side retries against the fresh state), so no row ever
    lands unvalidated."""
    from pyspark.sql import functions as F

    def attempt():  # data landed mid-validation; re-validate
        parent = (log_versions(table) or [0])[-1]
        cons = table_constraints(table)
        cons[name] = predicate_sql
        if parent:
            snap = read_snapshot(spark, table)
            n_bad = snap.filter(
                ~F.coalesce(F.expr(predicate_sql), F.lit(True))
            ).count()
            if n_bad:
                raise ValueError(
                    f"cannot add constraint {name!r}: {n_bad} existing "
                    f"row(s) violate {predicate_sql!r}"
                )
        return commit(
            table, "set_constraint", [], [], parent,
            constraints=cons,
        )

    return _retry(table, "set_constraint", attempt)


def tx_drop_constraint(table: str, name: str) -> int:
    """DROP CONSTRAINT: metadata-only commit with the name removed
    from the map (relaxing needs no data validation; a racing
    constraint commit re-plans it through :func:`_retry`)."""

    def attempt():
        parent = (log_versions(table) or [0])[-1]
        cons = table_constraints(table)
        cons.pop(name, None)
        return commit(
            table, "drop_constraint", [], [], parent, constraints=cons
        )

    return _retry(table, "drop_constraint", attempt)


def snapshot_bloom_map(table: str, version: int | None = None) -> dict:
    """Bloom-sidecar pointers live at a version: ``{col: {data_relpath:
    sidecar_relpath}}``. Commits carry ``{"bloom": {col: [{"sidecar":
    rel, "files": [rels...]}, ...]}}`` — the sidecar parquet holds the
    actual bit words; the log only names it (kilobytes per commit, the
    same discipline as the file list). Checkpoint-plus-tail replay
    (:func:`_replay`); pointers for files a later commit removed are
    dropped (a rewrite invalidates the old file's filter along with
    the file). Column keys are LOGICAL names (records store
    physical)."""
    return _keys_to_logical(
        table, _snapshot_bloom_raw(table, version), version
    )


def _snapshot_bloom_raw(table: str, version: int | None = None) -> dict:
    """Bloom pointers exactly as recorded (PHYSICAL column keys)."""
    return {
        c: dict(m)
        for c, m in _snapshot_state(table, version)["blooms"].items()
    }


def snapshot_distinct_map(table: str, version: int | None = None) -> dict:
    """Distinct-bitmap sidecar pointers live at a version: ``{col:
    {data_relpath: sidecar_relpath}}`` — same commit-riding discipline
    as :func:`snapshot_bloom_map` (commits carry ``{"distinct": {col:
    [{"sidecar": rel, "files": [rels...]}]}}``; the sidecar parquet
    holds the bitmap rows, the log only names it). Checkpoint-plus-
    tail replay (:func:`_replay`); pointers for files a later commit removed are dropped
    (a rewrite invalidates the old file's bitmaps with the file).
    Column keys are LOGICAL names (records store physical)."""
    return _keys_to_logical(
        table, _snapshot_distinct_raw(table, version), version
    )


def _snapshot_distinct_raw(table: str, version: int | None = None) -> dict:
    """Distinct pointers exactly as recorded (PHYSICAL column keys)."""
    return {
        c: dict(m)
        for c, m in _snapshot_state(table, version)["distincts"].items()
    }


def _write_sidecar(df: DataFrame, table: str, kind: str) -> str:
    """Publish ``df`` as ONE immutable parquet file
    ``_sidecars/<kind>-<tag>.parquet`` and return its relpath: a
    single-partition write to a ``tmp-*`` directory, then an atomic
    ``os.replace`` of its part file onto the final name. A crash
    leaves only an unreferenced ``tmp-*`` directory or sidecar, which
    no snapshot names and :func:`tx_vacuum` reclaims."""
    import shutil

    tag = uuid.uuid4().hex[:12]
    tmp = os.path.join(table, SIDECARS, f"tmp-{tag}")
    df.coalesce(1).write.parquet(tmp)
    part = next(f for f in sorted(os.listdir(tmp)) if f.endswith(".parquet"))
    rel = f"{SIDECARS}/{kind}-{tag}.parquet"
    os.replace(os.path.join(tmp, part), os.path.join(table, rel))
    shutil.rmtree(tmp, ignore_errors=True)
    return rel


def _staged_column(
    spark: SparkSession, table: str, rels: list[str], col: str,
    field: StructField | None,
) -> DataFrame:
    """The files ``rels`` read as their PHYSICAL column of logical
    ``col``, aliased ``__c``: with ``field`` (that physical column) as
    the read schema, so the read starts no schema-inference job;
    without it, through inference."""
    from pyspark.sql import functions as F

    paths = [os.path.join(table, r) for r in rels]
    if field is None:
        return spark.read.parquet(*paths).select(
            F.col(_l2p_col(table, col)).alias("__c")
        )
    return spark.read.schema(StructType([field])).parquet(*paths).select(
        F.col(field.name).alias("__c")
    )


def _build_distinct_sidecar(
    spark: SparkSession, table: str, rels: list[str], col: str,
    field: StructField | None = None,
) -> dict:
    """Build per-file exact-distinct BITMAPS over exactly ``rels`` and
    write them as ONE immutable sidecar parquet under ``_sidecars/``;
    returns the commit-record entry ``{"sidecar": rel, "files":
    rels}``. One bitmap row per (file, 32k-id bucket) via the
    mergeable JVM bitmap aggregates (functions/bitmaps.py) — the
    Druid/ClickHouse segment-bitmap design at file grain, scoped to a
    commit's own files so the sidecar RIDES the commit: a pinned
    snapshot sees exactly the bitmaps of its own file set, and
    rewrites retire bitmaps with their files. ``field`` is the staged
    PHYSICAL column when the caller knows it (a read with that schema
    starts no inference job)."""
    from pyspark.sql import functions as F

    from ..functions.bitmaps import build_bitmaps

    df = _staged_column(spark, table, rels, col, field).select(
        _rel_expr(table).alias("file"), F.col("__c").alias("__id")
    )
    bm = build_bitmaps(df, ["file"], "__id")
    rel = _write_sidecar(bm, table, "distinct")
    return {"sidecar": rel, "files": sorted(rels)}


def tx_distinct(spark: SparkSession, table: str, cols: list[str]) -> int:
    """Backfill distinct bitmaps for the CURRENT live file set as one
    commit (action ``distinct``; adds/removes nothing, so it can never
    conflict). Files appended later have no bitmap until their own
    ``tx_append(distinct_cols=...)`` or the next backfill —
    :func:`tx_instant_distinct` scans exactly those files and no
    others."""
    v, files = snapshot_files(table)
    if not files:
        raise FileNotFoundError(f"no live files under {table}")
    distinct = {
        _l2p_col(table, c): [_build_distinct_sidecar(spark, table, files, c)]
        for c in cols
    }
    return commit(table, "distinct", [], [], v, distinct=distinct)


def tx_instant_distinct(
    spark: SparkSession,
    table: str,
    col: str,
    version: int | None = None,
) -> tuple[DataFrame, int, int]:
    """Exact ``COUNT(DISTINCT col)`` at a snapshot, served from the
    commit log's bitmap sidecars: files covered by a sidecar and
    untouched by deletion vectors contribute KILOBYTES of bitmap
    instead of their rows; only uncovered or vectored files are
    scanned (bitmaps include rows a later DV deleted, so a vectored
    file's bitmap is stale by construction — recompute is the exact
    path, bounded by the vectored files, never the table).

    Exactness: buckets partition the id space and OR-merge is the
    union, so sidecar bitmaps and freshly-built ones fold together
    without double-counting — an id appearing in both a covered and a
    scanned file lands on the same (bucket, bit).

    Returns (one-row DataFrame ``n_distinct``, n_files_scanned,
    n_files_total)."""
    from pyspark.sql import functions as F

    from ..functions.bitmaps import (
        BITMAP,
        BUCKET,
        build_bitmaps,
        count_distinct,
        merge_bitmaps,
    )

    v, files = snapshot_files(table, version)
    dvs = snapshot_dvs(table, v)
    dmap = snapshot_distinct_map(table, v).get(col, {})
    covered = [f for f in files if f in dmap and f not in dvs]
    covered_set = set(covered)
    uncovered = [f for f in files if f not in covered_set]
    parts = []
    if covered:
        # the sidecar schema is known: no inference job
        side = spark.read.schema(
            f"file string, {BUCKET} long, {BITMAP} binary"
        ).parquet(*sorted({os.path.join(table, dmap[f]) for f in covered}))
        parts.append(
            side.filter(F.col("file").isin(covered)).select(BUCKET, BITMAP)
        )
    if uncovered:
        mv = None if version is None else v
        uncovered_set = set(uncovered)
        df = _apply_dvs(
            _data_reader(spark, table, _schema_at(table, mv), mv).parquet(
                *[os.path.join(table, f) for f in uncovered]
            ),
            table,
            {f: p for f, p in dvs.items() if f in uncovered_set},
        ).select(F.col(_l2p_col(table, col, version)).alias("__id"))
        parts.append(
            build_bitmaps(df, [], "__id").select(BUCKET, BITMAP)
        )
    if not parts:
        return (
            spark.range(1).select(F.lit(0).cast("long").alias("n_distinct")),
            0,
            0,
        )
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    return (
        count_distinct(merge_bitmaps(merged, []), []),
        len(uncovered),
        len(files),
    )


def tx_instant_agg(
    spark: SparkSession,
    table: str,
    col: str,
    version: int | None = None,
) -> tuple[DataFrame, int, int]:
    """COUNT(*) / MIN(col) / MAX(col) at a snapshot served from the
    commit log's per-file footer stats — the metadata-only instant
    aggregate: files whose commit carried stats for ``col``
    and that no deletion vector touched contribute three numbers from
    the log, not their rows. Only stat-less or vectored files are
    scanned (a DV shrinks a file's count and can delete its extremum,
    so its recorded stats are upper bounds, not answers). String
    columns always take the scan path: parquet writers may truncate
    binary statistics, which keeps them valid for skipping but not as
    exact answers.

    Returns (one-row DataFrame ``(n_rows, col_min, col_max)``,
    n_files_scanned, n_files_total)."""
    from pyspark.sql import functions as F

    v, files = snapshot_files(table, version)
    stats = snapshot_stats(table, v)
    dvs = snapshot_dvs(table, v)
    schema = _schema_at(table, None if version is None else v)
    typ = schema[col].dataType.simpleString() if schema else "double"
    # Footer min/max are exact VALUES only for fixed-width types.
    # Parquet writers may truncate binary (string) statistics to a
    # prefix — still valid as skipping BOUNDS, but a truncated bound is
    # not a value present in the data, so string columns answer from
    # the scan path, never the metadata path (pyarrow 16 does not
    # expose is_min_value_exact to check per-file).
    exact_stat_types = (
        "tinyint", "smallint", "int", "bigint", "float", "double",
        "date", "boolean",
    )
    stats_exact = typ in exact_stat_types or typ.startswith("timestamp")
    covered = [
        f
        for f in files
        if stats_exact
        and f not in dvs
        and col in stats.get(f, {}).get("c", {})
    ]
    covered_set = set(covered)
    uncovered = [f for f in files if f not in covered_set]
    parts = []
    if covered:
        n = sum(int(stats[f]["n"]) for f in covered)
        mn = min(stats[f]["c"][col][0] for f in covered)
        mx = max(stats[f]["c"][col][1] for f in covered)
        parts.append(
            spark.range(1).select(
                F.lit(n).cast("long").alias("n_rows"),
                F.lit(mn).cast(typ).alias("col_min"),
                F.lit(mx).cast(typ).alias("col_max"),
            )
        )
    if uncovered:
        mv = None if version is None else v
        uncovered_set = set(uncovered)
        df = _apply_dvs(
            _data_reader(spark, table, schema, mv).parquet(
                *[os.path.join(table, f) for f in uncovered]
            ),
            table,
            {f: p for f, p in dvs.items() if f in uncovered_set},
        )
        pcol = _l2p_col(table, col, version)  # raw files are physical
        parts.append(
            df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min(pcol).alias("col_min"),
                F.max(pcol).alias("col_max"),
            )
        )
    if not parts:
        return (
            spark.range(1).select(
                F.lit(0).cast("long").alias("n_rows"),
                F.lit(None).cast(typ).alias("col_min"),
                F.lit(None).cast(typ).alias("col_max"),
            ),
            0,
            0,
        )
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    return (
        merged.agg(
            F.sum("n_rows").alias("n_rows"),
            F.min("col_min").alias("col_min"),
            F.max("col_max").alias("col_max"),
        ),
        len(uncovered),
        len(files),
    )


def _build_bloom_sidecar(
    spark: SparkSession,
    table: str,
    rels: list[str],
    col: str,
    n_bits: int | None = None,
    n_hashes: int = 5,
    field: StructField | None = None,
) -> dict:
    """Build per-file Bloom filters over exactly ``rels`` and write
    them as ONE immutable sidecar parquet under ``_sidecars/``;
    returns the commit-record entry ``{"sidecar": rel, "files":
    rels}``. The words are :func:`lake.bloom_words` (k xxhash64
    probes -> sparse packed int64 words, auto-sized to ~10 bits/row of
    the largest covered file, floor 4096), scoped to a commit's own
    files so the filter RIDES the commit: a pinned snapshot sees
    exactly the filters of its own file set. Sidecars are invisible to
    scans (underscore dir) and, like data files, immutable once a
    commit names them. ``field`` is the staged PHYSICAL column when the
    caller knows it (a read with that schema starts no inference
    job)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from .lake import bloom_words

    paths = [os.path.join(table, r) for r in rels]
    if n_bits is None:
        rows = max(
            (pq.ParquetFile(p).metadata.num_rows for p in paths), default=1
        )
        n_bits = 4096
        while n_bits < 10 * rows:
            n_bits <<= 1
    df = _staged_column(spark, table, rels, col, field).select(
        _rel_expr(table).alias("file"), F.col("__c").alias("__v")
    )
    rel = _write_sidecar(bloom_words(df, n_bits, n_hashes), table, "bloom")
    return {"sidecar": rel, "files": sorted(rels)}


def tx_bloom(
    spark: SparkSession,
    table: str,
    cols: list[str],
    n_bits: int | None = None,
    n_hashes: int = 5,
) -> int:
    """Backfill Bloom filters for the CURRENT live file set as one
    commit (action ``bloom``; adds/removes nothing, so it can never
    conflict). Files appended after this commit have no filter until
    their own ``tx_append(bloom_cols=...)`` or the next backfill —
    probes treat them as must-read, which is conservative and
    correct."""
    v, files = snapshot_files(table)
    if not files:
        raise FileNotFoundError(f"no live files under {table}")
    bloom = {
        _l2p_col(table, c): [
            _build_bloom_sidecar(spark, table, files, c, n_bits, n_hashes)
        ]
        for c in cols
    }
    return commit(table, "bloom", [], [], v, bloom=bloom)


# Kept files at most this many bytes on disk are read by the driver
# itself in tx_point_lookup. Spark's default openCostInBytes: below the
# cost Spark charges for opening ONE file, a scan job cannot pay for
# itself.
_DRIVER_READ_MAX_BYTES = 4 << 20

# Key types whose Spark-cast value collects to an exact Python value
# (dates and timestamps do not; floats compare NaN and -0.0 by Spark's
# rules), so the driver read may drop non-matching rows itself.
_EXACT_KEY_TYPES = (*_INTEGRAL_BITS, "string")

# Footer keys of files written with Spark's LEGACY (Julian) datetime
# rebase, which only Spark's reader undoes.
_LEGACY_REBASE_KEYS = (
    b"org.apache.spark.legacyDateTime", b"org.apache.spark.legacyINT96",
)


def _as_nullable(dt):
    """``dt`` with every field, array element and map value nullable:
    the type a Spark file scan serves under an explicit read schema
    (Spark's ``DataType.asNullable``)."""
    from pyspark.sql.types import ArrayType, MapType

    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _as_nullable(f.dataType), True,
                            f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            _as_nullable(dt.keyType), _as_nullable(dt.valueType), True
        )
    return dt


def _driver_scan(
    spark: SparkSession, table: str, phys, files: list[str], dvs: dict,
    key_col: str | None = None, key=None,
) -> DataFrame | None:
    """The live rows of ``files`` read by the driver with pyarrow and
    handed to Spark as a local relation under the physical serve
    schema ``phys``, in the form a Spark scan of them serves: a column
    a file lacks is all-NULL, every column is cast to ``phys``'s Arrow
    type, every field is nullable, and the deletion-vector positions
    in ``dvs`` are dropped by row index within the file (the
    ``_metadata.row_index`` the Spark scan excludes). INT96 timestamps
    (Spark's TIMESTAMP encoding) read at microseconds: pyarrow's
    nanosecond default wraps years outside 1677..2262.

    With ``key_col``, only rows whose ``key_col`` equals ``key`` pass
    (a NULL key passes none): ``key`` must be Spark's own cast of the
    probed value on an exact key type (:func:`lake.bloom_probe`), so
    the rows dropped here are exactly rows Spark's equality drops.

    Returns None when a file needs Spark's reader: a type with no
    Arrow form, a cast pyarrow refuses, or a LEGACY-rebased footer."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.errors import PySparkTypeError
    from pyspark.sql.pandas.types import to_arrow_schema

    serve = _as_nullable(phys)
    try:
        target = to_arrow_schema(serve)
    except PySparkTypeError:
        return None
    parts = []
    for f in files:
        t = pq.read_table(
            os.path.join(table, f), coerce_int96_timestamp_unit="us"
        )
        if any(k in (t.schema.metadata or {}) for k in _LEGACY_REBASE_KEYS):
            return None
        live = np.ones(t.num_rows, dtype=bool)
        live[np.asarray(dvs.get(f, []), dtype=np.int64)] = False
        cols = []
        try:
            for field in target:
                cols.append(
                    t.column(field.name).cast(field.type)
                    if field.name in t.column_names
                    else pa.nulls(t.num_rows, field.type)
                )
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError,
                pa.ArrowTypeError):
            return None
        t = pa.Table.from_arrays(cols, schema=target)
        if key_col is not None:
            hit = pc.equal(
                t.column(key_col), pa.scalar(key, t.schema.field(key_col).type)
            )
            live &= hit.fill_null(False).to_numpy(zero_copy_only=False)
        # take, not filter: a filter left empty keeps zero chunks per
        # column, which createDataFrame's nested-type pass rejects
        parts.append(t.take(pa.array(np.flatnonzero(live))))
    # one chunk per column: a local relation built from an Arrow table
    # whose first chunks are two or more empty ones comes out empty
    return spark.createDataFrame(
        pa.concat_tables(parts).combine_chunks(), schema=serve
    )


def tx_point_lookup(
    spark: SparkSession,
    table: str,
    col: str,
    value,
    version: int | None = None,
) -> tuple[DataFrame, int, int]:
    """Needle-in-haystack equality scan through the commit log's Bloom
    sidecars: only live files whose filter admits ``value`` (plus
    files with no filter) are opened. This is the equality complement
    of :func:`tx_read_skipping`'s range stats — ``WHERE id = ?`` on an
    unclustered 100 TB table prunes nothing by min/max, but a per-file
    Bloom filter kills almost every file. False positives cost one
    file read each, never a wrong answer (the residual equality filter
    still applies, as do deletion vectors).

    Each live file's filter comes from its sidecar, decoded once per
    sidecar file and cached under the file's stat
    (:func:`lake.load_bloom_sidecar`; sidecars are immutable once a
    commit names them), so lookups on an unchanged snapshot read no
    sidecar and a new commit's lookups decode only its new sidecar.
    The probe hashes are Spark's own xxhash64 over the value cast to
    the column's type (:func:`lake.bloom_probe`, no job), so they are
    bit-identical to the build hashes: when the cast is the identity (a
    plain ``int`` in the range of an integral column) they are direct
    py4j calls on the JVM's ``XXH64`` class and build no query; any
    other type or value falls back to a one-row ``VALUES`` projection
    through Catalyst. Membership is tested on the driver
    (:func:`lake.bloom_admits`).

    The kept files are read one of two ways, gated on their total
    on-disk size (``os.stat``, known before any read):

    - at most ``_DRIVER_READ_MAX_BYTES`` (Spark's default
      ``openCostInBytes``, the cost Spark itself charges for opening
      one file): the driver reads them with pyarrow
      (:func:`_driver_scan`) and serves the live rows as a local
      relation, so the lookup plans no file scan, broadcasts no
      deletion-vector exclusion rows and its action starts no job. On
      integral and string keys with Bloom filters the driver drops
      rows whose key is not Spark's cast of ``value`` (``value``
      itself on the direct path, collected with the projection's
      hashes otherwise); otherwise every live row goes to Spark.
    - above it, or when a file needs Spark's reader: a Spark scan of
      the kept files, deletion vectors anti-joined away
      (:func:`_apply_dvs`). This is the branch that serves a read
      larger than the driver should hold.

    Both branches serve logical names and then apply the same
    ``col == CAST(value AS type)`` filter, so Spark's equality decides
    every answer. Returns (DataFrame, n_files_read, n_files_total)."""
    from pyspark.sql import functions as F

    from .lake import bloom_admits, bloom_probe, exact_lit, load_bloom_sidecar

    v, files = snapshot_files(table, version)
    if not files:
        return read_snapshot(spark, table, version), 0, 0
    schema = _schema_at(table, None if version is None else v)
    if schema is None:
        schema = spark.read.parquet(os.path.join(table, files[0])).schema
    bmap = snapshot_bloom_map(table, v).get(col, {})
    # a file's filter lives in the sidecar its newest Bloom commit names
    blooms = {}
    for f in files:
        if f in bmap:
            entry = load_bloom_sidecar(os.path.join(table, bmap[f])).get(f)
            if entry is not None:
                blooms[f] = entry
    typ = schema[col].dataType.simpleString()
    lit = exact_lit(value).cast(typ)
    # probe bit positions per distinct (n_bits, n_hashes) config —
    # normally one config; a handful after resizing backfills. The
    # driver read's pre-filter key comes with the probe, so it exists
    # only when there are filters to probe.
    exact = bool(blooms) and typ in _EXACT_KEY_TYPES
    probe_bits, key = bloom_probe(
        spark, value, typ, {b[:2] for b in blooms.values()}, with_key=exact
    )
    keep = [
        f
        for f in files
        if f not in blooms
        or bloom_admits(blooms[f], probe_bits[blooms[f][:2]])
    ]
    mv = None if version is None else v
    if not keep:
        df = empty_frame(spark, schema)
        return df.filter(F.col(col) == lit), 0, len(files)
    keep_set = set(keep)
    dvs = {f: p for f, p in snapshot_dvs(table, v).items() if f in keep_set}
    try:
        small = sum(
            os.stat(os.path.join(table, f)).st_size for f in keep
        ) <= _DRIVER_READ_MAX_BYTES
    except FileNotFoundError:
        small = False  # a vacuumed file fails in the scan, as before
    df = None
    if small:
        df = _driver_scan(
            spark, table, _physical_schema(table, schema, mv), keep, dvs,
            _l2p_col(table, col, mv) if exact else None, key,
        )
    if df is None:
        df = _data_reader(spark, table, schema, mv).parquet(
            *[os.path.join(table, f) for f in keep]
        )
        df = _apply_dvs(df, table, dvs)
    df = _serve_logical(df, table, mv)
    return df.filter(F.col(col) == lit), len(keep), len(files)


def commit(
    table: str,
    action: str,
    added: list[str],
    removed: list[str],
    parent_version: int,
    schema_json: str | None = None,
    meta: dict | None = None,
    stats: dict | None = None,
    dv: dict | None = None,
    depends_on: list[str] | None = None,
    bloom: dict | None = None,
    distinct: dict | None = None,
    cdc: str | None = None,
    pv: dict | None = None,
    partition_by: list[str] | None = None,
    constraints: dict | None = None,
    read_predicate: str | None = None,
    read_pf: dict | None = None,
) -> int:
    """Optimistic commit: claim ``parent+1``; on a lost race,
    re-validate against the interleaved commits and re-claim, or raise
    :class:`TxConflict` if any of them invalidated this commit's plan
    (the conflict classes are listed there). ``meta`` (e.g. streaming
    txn identity) is stored verbatim in the commit record."""
    _init_table(table)
    ours_removed = set(removed)
    v = parent_version + 1
    rec = {
        "action": action,
        "added": sorted(added),
        "removed": sorted(removed),
        "parent": parent_version,
    }
    if schema_json:
        rec["schema"] = schema_json
    if stats:
        rec["stats"] = stats
    if dv:
        rec["dv"] = dv
    if bloom:
        rec["bloom"] = bloom
    if distinct:
        rec["distinct"] = distinct
    if cdc:
        rec["cdc"] = cdc
        # one footer read: the sidecar's [min,max] for the declared
        # partition columns ride the commit (PHYSICAL keys, like file
        # stats), so a partition-filtered CDF stream can prove a whole
        # change set disjoint and skip it — a change file is never
        # value-pure, but its stats can still exclude it.
        pb = table_partition_by(table)
        if pb:
            cstats = collect_file_stats(table, [cdc], pb).get(
                cdc, {}
            ).get("c")
            if cstats:
                rec["cdc_stats"] = cstats
    if pv:
        rec["pv"] = pv
    if partition_by is not None:
        # an explicit EMPTY list records "unpartitioned" (newest-wins
        # resolution in table_partition_by) — how RESTORE undoes a
        # later partition evolution; None stays unrecorded
        rec["partition_by"] = list(partition_by)
    if constraints is not None:
        rec["constraints"] = constraints
    if read_predicate is not None:
        # predicate writes (replaceWhere, whole-table OVERWRITE) record
        # what they read so the conflict loop below — and the history —
        # can see the read-set; 'true' means "the whole live set"
        rec["read_predicate"] = read_predicate
    if meta:
        rec.update(meta)
    # ROW TRACKING hook: every data-adding commit on a tracked table
    # assigns a per-file [base_row_id, commit_version]. Recomputed on
    # EVERY claim attempt (watermark re-read, commit version
    # re-stamped), so two racing adders can never hand out overlapping
    # ranges — the loser's re-claim sees the winner's watermark.
    # Rewritten files carry MATERIALIZED ids that win over the base on
    # read; their base entry still matters as the _row_commit_version
    # fallback (an updated row's materialized commit is NULLed so it
    # reads as the commit that produced its new image — this one).
    # hook ownership decided on the ORIGINAL record: a caller that
    # provided its own base map (RESTORE re-recording the target's, a
    # CLONE carrying the source's) keeps it verbatim
    rt_hook = bool(added) and "row_tracking" not in rec and (
        "base_row_id" not in rec
    )
    rt_sizes: dict | None = None
    for _ in range(_MAX_CLAIMS):
        rec["version"] = v
        # IN-COMMIT timestamp (Delta's inCommitTimestamps): stamped by
        # the committing writer and clamped monotone against the actual
        # predecessor (re-stamped per attempt — after a lost race the
        # predecessor is the interleaved commit, whose clock may be
        # ahead of ours). Timestamp time travel then survives the log
        # directory being copied/rsynced/restored, where mtimes don't.
        import time as _time

        base_ts = 0.0
        if v > 1:
            try:
                base_ts = commit_timestamp(table, v - 1)
            except (FileNotFoundError, OSError, ValueError):
                base_ts = 0.0  # expired predecessor: clock stands alone
        rec["ts"] = max(_time.time(), base_ts + 1e-6)
        if rt_hook and table_row_tracking(table):
            if rt_sizes is None:
                import pyarrow.parquet as pq

                rt_sizes = {
                    f: pq.ParquetFile(
                        os.path.join(table, f)
                    ).metadata.num_rows
                    for f in rec["added"]
                }
            wm = row_id_watermark(table)
            base = {}
            for f in rec["added"]:
                base[f] = [wm, v]
                wm += rt_sizes[f]
            rec["base_row_id"] = base
            rec["row_id_watermark"] = wm
        if _try_create(_commit_path(table, v), rec):
            if v % CHECKPOINT_EVERY == 0:
                # v is published: a failed checkpoint is only a missed
                # optimization (readers fold from the older one), never
                # a failed commit a caller would retry into a duplicate
                with contextlib.suppress(OSError):
                    _write_checkpoint(table, v)
            return v
        # lost the race: validate the interleaved commit, advance
        theirs = read_commit(table, v)
        if ours_removed & set(theirs["removed"]):
            raise TxConflict(
                f"version {v} removed files this commit also removes: "
                f"{sorted(ours_removed & set(theirs['removed']))[:4]}"
            )
        if depends_on and set(depends_on) & set(theirs["removed"]):
            # our deletion vectors target files an interleaved commit
            # rewrote: the positions no longer mean anything (Delta's
            # read-set conflict) — re-run against the fresh snapshot
            raise TxConflict(
                f"version {v} removed files this commit depends on"
            )
        if ours_removed & set(theirs.get("dv", {})):
            # an interleaved commit added deletion vectors to files we
            # are removing: our rewrite was computed WITHOUT those
            # deletes and would resurrect the rows — recompute
            raise TxConflict(
                f"version {v} added deletion vectors to files this "
                "commit rewrites"
            )
        if dv:
            # DV-vs-DV: two merge-on-read deletes racing. Snapshot
            # reads would survive either order (snapshot_dvs unions
            # positions), but the change feed replays each commit's
            # vector verbatim — the same (file, row) vectored twice
            # emits a duplicate 'delete' and corrupts downstream
            # signed folds (mv_sync_txlog). Disjoint positions on the
            # same file are fine; an actual position overlap forces
            # the loser to recompute against the fresh snapshot,
            # where the winner's deletes are already applied.
            for f, pos in dv.items():
                theirs_pos = theirs.get("dv", {}).get(f)
                if theirs_pos and set(pos) & set(theirs_pos):
                    raise TxConflict(
                        f"version {v} vectored rows of {f} this "
                        "commit also vectors"
                    )
        if rec["added"] and "constraints" in theirs:
            # an interleaved commit changed the CHECK constraints: our
            # rows were validated against the stale map — revalidate
            # and retry (Delta treats metadata updates as conflicting
            # with concurrent writes)
            raise TxConflict(
                f"version {v} changed table constraints after our "
                "validation; revalidate and retry"
            )
        if constraints is not None and theirs["added"]:
            # symmetric: our constraint was validated against a
            # snapshot that no longer includes the interleaved rows
            raise TxConflict(
                f"version {v} added rows after our constraint "
                "validation; revalidate and retry"
            )
        if read_predicate is not None and theirs["added"]:
            # predicate-write read-set conflict (Delta's
            # ConcurrentAppendException for replaceWhere): our delete
            # side was computed from a scan an interleaved add just
            # invalidated — rows the racer appended into the replaced
            # range would survive the swap, double-counting against
            # the replacement. EXEMPTION: when the predicate is pure
            # partition equality (read_pf) and EVERY interleaved file
            # carries recorded partition values provably OUTSIDE the
            # predicate, the add is disjoint from the read-set and the
            # commit proceeds — so a day-partition backfill never
            # conflicts with the firehose appending today's partition,
            # which is the whole point of partition-scoped backfills
            # at scale.
            their_pv = theirs.get("pv") or {}
            disjoint = bool(read_pf) and all(
                (vals := their_pv.get(f)) is not None
                and any(
                    c in vals and vals[c] not in w
                    for c, w in read_pf.items()
                )
                for f in theirs["added"]
            )
            if not disjoint:
                raise TxConflict(
                    f"version {v} added rows after our predicate scan "
                    f"({read_predicate!r}); re-scan and retry"
                )
        if "row_tracking" in rec and (
            theirs["added"] or theirs["removed"]
        ):
            # the enabling backfill was computed against a snapshot an
            # interleaved data commit just changed — its base map would
            # miss (or double-assign) files; recompute and retry
            raise TxConflict(
                f"version {v} changed the file set after the row-"
                "tracking backfill; recompute and retry"
            )
        if "identity_watermark" in rec and not rec["added"] and (
            theirs["added"]
        ):
            # scan-vs-append (symmetric to constraints-vs-added): a
            # metadata-only watermark commit (set_identity/sync scanned
            # the column max; rename/drop/restore carried the map
            # forward) raced a plain append. Writer-supplied BY DEFAULT
            # values in the interleaved rows can exceed the scanned
            # max WITHOUT recording a watermark of their own — the
            # generator-vs-generator check below never fires, and the
            # stale watermark would let the generator re-issue the
            # racer's values. The loser re-reads and retries (every
            # caller recomputes its map from the fresh snapshot).
            raise TxConflict(
                f"version {v} added rows after our watermark "
                "read; re-scan and retry"
            )
        # newest-wins write-write: both commits recorded the FULL new
        # value of a metadata plane planned from the same read (two
        # ALTERs on different columns, two partition declarations, a
        # widened schema), so landing ours would silently erase the
        # other writer's change. Equal values commute, except
        # reservations: two identity watermarks (generator-vs-
        # generator) or COPY INTO source sets from the same read hand
        # out the same ids or files twice. The row-id watermark is
        # re-stamped on every claim above. The loser re-plans.
        for k in _NEWEST_WINS:
            if k == "row_id_watermark" or k not in rec or k not in theirs:
                continue
            if k in ("identity_watermark", "copy_into_sources") or not (
                _schema_eq(rec[k], theirs[k]) if k == "schema"
                else rec[k] == theirs[k]
            ):
                raise TxConflict(
                    f"version {v} recorded the {k} plane this commit "
                    "also records; re-read and retry"
                )
        v += 1
    raise RuntimeError(f"could not claim a version after {_MAX_CLAIMS} tries")


def _stage(df: DataFrame, table: str,
           mapping: dict | None = None) -> list[str]:
    """Write df's parquet into data/ under fresh UUID names; returns
    relpaths. Files are invisible until committed. Data files always
    carry PHYSICAL column names — ``mapping`` (full logical→physical;
    None = the committed one) renames a logical DataFrame on the way
    in; identity tables skip the rename entirely."""
    df = _to_physical_df(
        df, _effective_mapping(table) if mapping is None else mapping
    )
    _init_table(table)
    tag = uuid.uuid4().hex[:12]
    staging = os.path.join(table, STAGING, tag)
    df.write.parquet(staging)
    import pyarrow.parquet as pq

    rels = []
    for i, f in enumerate(sorted(os.listdir(staging))):
        if not f.endswith(".parquet"):
            continue
        src = os.path.join(staging, f)
        # drop empty partitions' part files (footer-only check, no
        # data read) — they'd bloat the live set forever otherwise;
        # the skipped file stays in staging for vacuum
        if pq.ParquetFile(src).metadata.num_rows == 0:
            continue
        rel = f"{DATA}/{tag}-p{i}.parquet"
        os.rename(src, os.path.join(table, rel))
        rels.append(rel)
    return rels


def _stage_partitioned(
    df: DataFrame, table: str, partition_by: list[str],
    mapping: dict | None = None,
) -> tuple[list[str], dict]:
    """Stage df as VALUE-PURE files: every staged file holds rows of
    exactly one combination of the partition columns, and the commit
    records that combination per file (Delta's ``partitionValues`` —
    a string map; readers compare stringified literals). One Spark
    write job: the partition columns are DUPLICATED under reserved
    names and ``partitionBy`` consumes the duplicates, so the real
    columns stay inside the data files — every existing read path
    (explicit-schema snapshot reads, the DataSource faces, CDC diffs,
    rewrites) serves partitioned tables unchanged. Files land FLAT in
    ``data/`` (vacuum/retention walk it flat); the value map lives in
    the log, not the path.

    Returns (relpaths, {rel: {col: value-string | None}}) — rels hold
    PHYSICAL column names and pv is keyed PHYSICALLY (``partition_by``
    arrives logical; the committed metadata contract is physical).
    """
    from urllib.parse import unquote

    from pyspark.sql import functions as F

    m = _effective_mapping(table) if mapping is None else mapping
    df = _to_physical_df(df, m)
    partition_by = [m.get(c, c) for c in partition_by] if m else list(
        partition_by
    )
    _init_table(table)
    tag = uuid.uuid4().hex[:12]
    staging = os.path.join(table, STAGING, tag)
    dup = [F.col(c).cast("string").alias(f"__p_{c}") for c in partition_by]
    df.select("*", *dup).write.partitionBy(
        *[f"__p_{c}" for c in partition_by]
    ).parquet(staging)
    import pyarrow.parquet as pq

    rels: list[str] = []
    pv: dict = {}
    i = 0
    for root, _dirs, names in sorted(os.walk(staging)):
        vals: dict = {}
        for comp in os.path.relpath(root, staging).split(os.sep):
            if "=" in comp and comp.startswith("__p_"):
                k, _, raw = comp.partition("=")
                raw = unquote(raw)
                vals[k[4:]] = (
                    None if raw == "__HIVE_DEFAULT_PARTITION__" else raw
                )
        for f in sorted(names):
            src = os.path.join(root, f)
            if not f.endswith(".parquet"):
                continue
            if pq.ParquetFile(src).metadata.num_rows == 0:
                continue  # like _stage: empty parts stay for vacuum
            rel = f"{DATA}/{tag}-p{i}.parquet"
            i += 1
            os.rename(src, os.path.join(table, rel))
            rels.append(rel)
            pv[rel] = {c: vals.get(c) for c in partition_by}
    return rels, pv


def _stage_for(df: DataFrame, table: str) -> tuple[list[str], dict | None]:
    """Stage honoring the table's declared partitioning: rewrites of a
    partitioned table go through :func:`_stage_partitioned` so their
    outputs stay value-pure WITH recorded partition values — pruning
    never degrades just because a delete/update/merge/compaction
    touched the table. Unpartitioned tables take the plain path.
    Returns (relpaths, pv-or-None) for :func:`commit`."""
    cols = table_partition_by(table)
    if cols and all(c in df.columns for c in cols):
        return _stage_partitioned(df, table, cols)
    return _stage(df, table), None


def _stage_distinct_fold(
    df: DataFrame, table: str, col: str, mapping: dict | None = None,
) -> tuple[list[str], dict | None]:
    """Stage ``df`` AND build its per-file distinct-bitmap sidecar in
    ONE Spark job (r14, VERDICT r13 ask #1; guide §1.2/§8.4: a
    per-file summary the writer can accumulate should never require
    re-reading the files it just wrote). The classic path ran two
    jobs per append — the staging write, then
    :func:`_build_distinct_sidecar` re-scanning the staged files —
    and the sidecar job measured MORE than the write itself at bench
    scale (0.36 s vs 0.29 s warm).

    Mechanics: each task writes its partition's rows as one staging
    parquet (tmp + atomic rename keyed by partitionId, so a retried
    or speculative attempt lands the same name exactly once) and
    emits its file's (bucket, bitmap) rows, computed in numpy with
    bit-for-bit the layout of ``bitmap_construct_agg`` (bucket/pos
    per ``bitmap_bucket_number``/``bitmap_bit_position``, 4096-byte
    bitsets, bit ``pos&7`` of byte ``pos>>3`` — asserted against the
    JVM aggregate in tests/test_txlog.py), so folded sidecars
    OR-merge with JVM-built ones in :func:`tx_instant_distinct`
    exactly. The job's sink is the sidecar parquet itself
    (repartition(1) — a shuffle barrier, NOT coalesce, which would
    collapse the staging writers into one task); data-file writes are
    the map side's idempotent side effect. NULL ids emit no bits
    (COUNT(DISTINCT) excludes NULLs; the JVM aggregate's NULL-bucket
    row popcounts 0 — same answer).

    Used by :func:`tx_append` for the unpartitioned single-column
    case (the common telemetry shape); partitioned staging and
    multi-column requests keep the classic per-column jobs. Returns
    (relpaths, sidecar-entry-or-None); ``col`` is PHYSICAL.
    """
    import shutil

    from ..functions.bitmaps import BITMAP, BUCKET

    df = _to_physical_df(
        df, _effective_mapping(table) if mapping is None else mapping
    )
    _init_table(table)
    tag = uuid.uuid4().hex[:12]
    abs_table = os.path.abspath(table)
    staging = os.path.join(abs_table, STAGING, tag)
    os.makedirs(staging, exist_ok=True)
    rel_prefix = f"{DATA}/{tag}-p"

    def _task(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        parts = [b for b in batches if b.num_rows]
        if not parts:
            return  # empty partition: no file (matches _stage's skip)
        tbl = pa.Table.from_batches(parts)
        tmp = os.path.join(
            staging, f".part-{pid:05d}.{ctx.taskAttemptId()}.tmp"
        )
        pq.write_table(tbl, tmp, row_group_size=1 << 20)
        os.replace(tmp, os.path.join(staging, f"part-{pid:05d}.parquet"))
        c = tbl.column(col)
        if c.null_count:
            c = c.drop_null()
        v = c.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        pos_based = v >= 1
        # v <= 0 buckets truncate toward zero, ceil(v / 32768), computed
        # without negating v (-INT64_MIN wraps back to INT64_MIN)
        bucket = np.where(
            pos_based, (v - 1) // 32768 + 1, (v + 32767) // 32768
        )
        pos = np.where(pos_based, (v - 1) % 32768, (-v) % 32768)
        rel = f"{rel_prefix}{pid}.parquet"
        files, buckets, bitsets = [], [], []
        for b in np.unique(bucket):
            p = pos[bucket == b]
            bits = np.zeros(4096, dtype=np.uint8)
            np.bitwise_or.at(bits, p >> 3, (1 << (p & 7)).astype(np.uint8))
            files.append(rel)
            buckets.append(int(b))
            bitsets.append(bits.tobytes())
        if files:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(files, pa.string()),
                    pa.array(buckets, pa.int64()),
                    pa.array(bitsets, pa.binary()),
                ],
                ["file", BUCKET, BITMAP],
            )

    sctmp = os.path.join(abs_table, SIDECARS, f"tmp-{tag}")
    (
        df.mapInArrow(_task, f"file string, {BUCKET} long, {BITMAP} binary")
        .repartition(1)
        .write.parquet(sctmp)
    )
    rels: list[str] = []
    for f in sorted(os.listdir(staging)):
        if not f.endswith(".parquet"):
            continue
        # part-<pid>.parquet; the pid may outgrow the 05d padding on
        # very wide appends, so parse up to the extension dot
        pid = int(f.split(".")[0][len("part-"):])
        rel = f"{rel_prefix}{pid}.parquet"
        os.rename(os.path.join(staging, f), os.path.join(table, rel))
        rels.append(rel)
    if not rels:
        shutil.rmtree(sctmp, ignore_errors=True)
        return [], None
    part = next(
        f for f in sorted(os.listdir(sctmp)) if f.endswith(".parquet")
    )
    screl = f"{SIDECARS}/distinct-{tag}.parquet"
    os.replace(os.path.join(sctmp, part), os.path.join(table, screl))
    shutil.rmtree(sctmp, ignore_errors=True)
    return sorted(rels), {"sidecar": screl, "files": sorted(rels)}


def _json_safe(v):
    """Footer statistics values -> JSON-storable, order-preserving
    encodings (ISO timestamps/dates sort lexicographically; Decimal as
    str would not, so it is excluded from skipping — see
    _footer_stats). A zoned timestamp (a UTC-adjusted footer, or a
    zoned bound) renders as naive UTC, the session zone naive bounds
    are read in: a ``+00:00`` suffix would sort a bound equal to a
    file's min below it and skip the file."""
    import datetime

    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return v


def collect_file_stats(
    table: str, rels: list[str], stats_cols: list[str],
    mapping: dict | None = None,
) -> dict:
    """Per-file min/max/rowcount for freshly staged files, read from
    the parquet FOOTERS (no data scan): the write that produced the
    file already paid for these statistics. One footer read per file on
    the committing writer — bounded by the commit's own file count,
    never table size (the Delta/Iceberg add-file stats pattern).

    A column is recorded only when EVERY row group carries min/max for
    it (all-null files and suppressed stats yield no entry, which
    skipping treats as must-read). Decimal columns are skipped —
    their JSON encoding would not preserve order.

    ``stats_cols`` arrives LOGICAL; recorded keys are the PHYSICAL
    footer names (the committed-metadata contract under column
    mapping — :func:`snapshot_stats` translates back on read).
    """
    import decimal

    import pyarrow.parquet as pq

    m = _effective_mapping(table) if mapping is None else mapping
    stats_cols = [m.get(c, c) for c in stats_cols] if m else stats_cols
    out: dict = {}
    for rel in rels:
        md = pq.ParquetFile(os.path.join(table, rel)).metadata
        idx = {
            md.schema.column(i).name: i for i in range(md.num_columns)
        }
        cols: dict = {}
        for c in stats_cols:
            if c not in idx:
                continue
            mn = mx = None
            ok = True
            for r in range(md.num_row_groups):
                st = md.row_group(r).column(idx[c]).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                try:
                    lo, hi = _json_safe(st.min), _json_safe(st.max)
                except NotImplementedError:
                    # pyarrow cannot decode INT96 (Spark's default
                    # timestamp encoding) statistics: record none
                    ok = False
                    break
                if isinstance(lo, decimal.Decimal):
                    ok = False
                    break
                mn = lo if mn is None or lo < mn else mn
                mx = hi if mx is None or hi > mx else mx
            if ok and mn is not None:
                cols[c] = [mn, mx]
        out[rel] = {"n": md.num_rows, "c": cols}
    return out


def table_schema(table: str) -> StructType | None:
    """The table's current schema: the newest commit that recorded
    one (see :func:`_schema_at`)."""
    return _schema_at(table, None)


def tx_append(
    df: DataFrame,
    table: str,
    meta: dict | None = None,
    merge_schema: bool = False,
    stats_cols: list[str] | None = None,
    cluster_by: list[str] | None = None,
    cluster_files: int | None = None,
    bloom_cols: list[str] | None = None,
    distinct_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
) -> int:
    """Append rows transactionally. Appends never conflict — a lost
    race re-claims the next version untouched.

    ``partition_by``: Hive/Delta-style table partitioning — staged
    files are VALUE-PURE on these columns and the commit records each
    file's partition values, so :func:`read_snapshot` with a
    ``partition_filter`` prunes whole files from the LOG alone (no
    footer reads — the dominant scale lever on append-mostly fact
    tables). The first partitioned append declares the columns; later
    appends inherit them. Unlike Hive, the columns stay inside the
    data files, so every other read path is layout-oblivious.

    ``bloom_cols``: build per-file Bloom sidecars for the appended
    files and record them IN the same commit, so every append arrives
    point-lookup-skippable (:func:`tx_point_lookup`) with no separate
    backfill pass.

    ``distinct_cols``: likewise per-file distinct BITMAPS riding the
    commit, so :func:`tx_instant_distinct` keeps answering exact
    COUNT(DISTINCT) from metadata as the table grows.

    ``cluster_by``: z-order the appended rows before staging
    (``lake.z_cluster``) so each staged file covers a tight range of
    the clustered columns — combined with ``stats_cols`` this makes
    every append arrive pre-skippable, instead of waiting for the next
    ``tx_compact(zorder_by=...)`` pass.

    Schema contract (the Delta one): by default an append must carry
    exactly the table's columns (order-insensitive; a drift-write is
    rejected BEFORE staging, so nothing lands). With
    ``merge_schema=True`` additive evolution is allowed — new columns
    append, existing columns must keep their type — and the commit
    records the widened schema, which :func:`read_snapshot` serves by
    schema-merging old files (absent columns read as NULL).

    Concurrency: appends never conflict on FILES (fresh UUIDs), but an
    interleaved commit that changed the table schema is a metadata
    write-write conflict — our validated/widened schema was computed
    against a stale snapshot. :func:`commit` detects it; we re-read the
    table schema, re-validate, re-widen, and retry, so two concurrent
    ``merge_schema`` appends adding DIFFERENT columns both land with a
    final schema containing both (or the loser is rejected under the
    same rules a sequential append would be).
    """
    # write-time DEFAULTS: an append may omit a defaulted column —
    # fill it (typed to the table's column) BEFORE validation, so the
    # additive-only schema contract sees a complete row set
    defaults = table_column_defaults(table)
    if defaults:
        cur_schema = table_schema(table)
        cur_types = (
            {f.name: f.dataType for f in cur_schema.fields}
            if cur_schema is not None else {}
        )
        from pyspark.sql import functions as F

        for c, expr in defaults.items():
            if c not in df.columns and c in cur_types:
                df = df.withColumn(
                    c, F.expr(expr).cast(cur_types[c])
                )
    # IDENTITY columns: an omitted one is ASSIGNED here — distributed,
    # one pass, no global sort: base + monotonically_increasing_id()
    # * step is unique per row and strictly beyond the watermark (the
    # id's partition<<33 layout leaves gaps, which the Delta identity
    # contract explicitly allows). The new watermark is derived later
    # from the staged files' FOOTER stats — zero extra data reads.
    idents = table_identity(table)
    ident_wm = identity_watermark(table)
    ident_assigned: list[str] = []
    if idents:
        from pyspark.sql import functions as F

        for c, spec in sorted(idents.items()):
            if c in df.columns:
                if spec["always"]:
                    raise ValueError(
                        f"column {c!r} of {table} is GENERATED ALWAYS "
                        "AS IDENTITY; writes may not supply it "
                        "(declare BY DEFAULT to allow explicit values)"
                    )
                continue  # BY DEFAULT value supplied: writer's problem
            start, step = int(spec["start"]), int(spec["step"])
            base = _ident_next_base(
                start, step, int(ident_wm.get(c, start - step))
            )
            df = df.withColumn(
                c,
                (
                    F.lit(base)
                    + F.monotonically_increasing_id() * F.lit(step)
                ).cast("long"),
            )
            ident_assigned.append(c)
        if ident_assigned:
            # the assigned columns' footer stats carry the new
            # watermark out of the staged files for free
            stats_cols = sorted(set(stats_cols or []) | set(ident_assigned))
            if table_constraints(table) or table_generated_columns(table):
                # the assignment expression is NONDETERMINISTIC
                # (monotonically_increasing_id): constraint/generated
                # enforcement runs its own job before staging, and two
                # evaluations could disagree — validating values that
                # never land. Pin ONE evaluation (executor-local
                # materialization, no driver funnel) for the
                # correctness-sensitive case; plain appends stay
                # single-evaluation lazy.
                df = df.localCheckpoint()
    # declared CLUSTERING columns ride every append's stats
    # automatically (one footer read per staged file) — the table
    # stays skippable on its access pattern with no per-call args
    declared_cluster = table_cluster_by(table)
    if declared_cluster:
        stats_cols = sorted(set(stats_cols or []) | set(declared_cluster))
    # GENERATED columns: fill when omitted, enforce when supplied —
    # before validation so partition checks see the filled column
    # (partition_by on a generated date column is the canonical use)
    df, enforced_gen = _apply_generated(df, table)
    if any(c in df.columns for c in (_ROW_ID_COL, _ROW_COMMIT_COL)):
        raise ValueError(
            f"column names {_ROW_ID_COL!r}/{_ROW_COMMIT_COL!r} are "
            "reserved for row tracking's materialized ids"
        )
    # fail fast BEFORE staging so a drift-write lands nothing
    _validate_append_schema(table, df.schema, merge_schema)
    # partition_by is a TABLE property (Delta's): the first partitioned
    # append declares it; later appends inherit it implicitly and may
    # not contradict it — a mixed layout would silently strand rows
    # outside every pruned read's file set.
    declared = table_partition_by(table)
    if partition_by is not None and declared and list(partition_by) != declared:
        raise ValueError(
            f"table {table} is partitioned by {declared}; an append "
            f"partitioned by {list(partition_by)} would mix layouts"
        )
    eff_partition = list(partition_by) if partition_by else declared
    missing = [c for c in eff_partition if c not in df.columns]
    if missing:
        raise ValueError(f"partition columns {missing} not in the append")
    enforced_cons = _enforce_constraints(df, table)
    if cluster_by:
        from .lake import z_cluster

        df = z_cluster(df, list(cluster_by), num_files=cluster_files)
    # COLUMN MAPPING: a mapped table stages physical names; a brand-new
    # logical column (merge_schema evolution) MINTS its physical name
    # here — fresh when the name was ever used before (mapped now or
    # retired by a drop), so old files' bytes never resurrect under a
    # re-added column.
    cm = table_column_mapping(table)
    eff_mapping: dict | None = None
    mapping_grew = False
    if cm:
        eff_mapping, retired = dict(cm[0]), list(cm[1])
        used = set(eff_mapping.values()) | set(retired)
        for c in df.columns:
            if c not in eff_mapping:
                phys = c
                while phys in used:
                    phys = f"{c}_{uuid.uuid4().hex[:8]}"
                eff_mapping[c] = phys
                used.add(phys)
                mapping_grew = True
    pv = None
    _p = (eff_mapping or {}).get
    # r14 fold (guide §1.2/§8.4): the common single-integer-column
    # distinct request rides the staging job itself instead of a
    # second job re-reading the staged files; gated to shapes where
    # the folded writer is proven equivalent (unpartitioned staging,
    # arrow-convertible schema, integral id — everything else keeps
    # the classic two-job path).
    fold_entry: dict | None = None
    use_fold = bool(
        not eff_partition and distinct_cols and len(distinct_cols) == 1
        and distinct_cols[0] in df.columns
        and df.schema[distinct_cols[0]].dataType.typeName()
        in ("byte", "short", "integer", "long")
    )
    if use_fold:
        try:
            from pyspark.sql.pandas.types import to_arrow_schema

            to_arrow_schema(df.schema)
        except Exception:
            use_fold = False
    if eff_partition:
        added, pv = _stage_partitioned(
            df, table, eff_partition, mapping=eff_mapping or {}
        )
    elif use_fold:
        added, fold_entry = _stage_distinct_fold(
            df, table, _p(distinct_cols[0], distinct_cols[0]),
            mapping=eff_mapping or {},
        )
    else:
        added = _stage(df, table, mapping=eff_mapping or {})
    stats = (
        collect_file_stats(
            table, added, stats_cols, mapping=eff_mapping or {}
        )
        if stats_cols else None
    )
    ident_new_wm: dict = (
        _ident_wm_from_stats(table, idents, ident_assigned, stats,
                             ident_wm, _p)
        if ident_assigned and added else {}
    )
    bloom = (
        {
            _p(c, c): [
                _build_bloom_sidecar(
                    df.sparkSession, table, added, c,
                    field=StructField(_p(c, c), df.schema[c].dataType),
                )
            ]
            for c in bloom_cols
        }
        if bloom_cols and added
        else None
    )
    if distinct_cols and added:
        if fold_entry is not None:
            distinct = {_p(distinct_cols[0], distinct_cols[0]): [fold_entry]}
        else:
            distinct = {
                _p(c, c): [
                    _build_distinct_sidecar(
                        df.sparkSession, table, added, c,
                        field=StructField(_p(c, c), df.schema[c].dataType),
                    )
                ]
                for c in distinct_cols
            }
    else:
        distinct = None

    def attempt():
        nonlocal enforced_cons, enforced_gen
        # read parent FIRST, then the schema: the schema we validate /
        # widen against is therefore at-or-after our parent. Any
        # schema commit landing after that read claims our target
        # version, the CAS loses, and commit() raises TxConflict on
        # the schema mismatch — so a stale-validated schema can never
        # be recorded (may also legitimately raise ValueError here,
        # e.g. another writer widened and our df no longer conforms).
        parent = (log_versions(table) or [0])[-1]
        current = _validate_append_schema(table, df.schema, merge_schema)
        schema_json = _widened_schema_json(current, df.schema, merge_schema)
        if table_constraints(table) != enforced_cons:
            # a constraint commit won a race: revalidate our rows
            # against the fresh map before re-claiming a version
            enforced_cons = _enforce_constraints(df, table)
        if table_generated_columns(table) != enforced_gen:
            # a generated-column declaration raced the append: our
            # rows (already complete) must satisfy the fresh law
            df2, enforced_gen = _apply_generated(df, table)
            if df2 is not df:
                raise ValueError(
                    f"a generated-column declaration on {table} raced "
                    "this append after staging; re-run the append"
                )
        if partition_by is not None:
            # a DECLARING append re-checks the declaration each attempt
            # (the commit-level write-write conflict only fires on a
            # lost CAS race; a repartition landing between our staging
            # and a clean claim would otherwise be silently reverted)
            fresh = table_partition_by(table)
            if fresh and list(partition_by) != fresh:
                raise ValueError(
                    f"table {table} was re-declared as partitioned by "
                    f"{fresh} while this append staged under "
                    f"{list(partition_by)}; re-run against the new layout"
                )
        eff_meta = meta
        if eff_mapping is not None:
            # a rename/drop landing after our staging means the files
            # we staged carry stale physical names — fail loudly, the
            # caller re-runs against the fresh mapping (same contract
            # as the partition re-declaration race above)
            fresh_cm = table_column_mapping(table)
            fresh_map = dict(fresh_cm[0]) if fresh_cm else {}
            drift = [
                c for c in df.columns
                if c in fresh_map and fresh_map[c] != eff_mapping.get(c)
            ]
            if drift:
                raise ValueError(
                    f"column mapping of {table} changed for {drift} "
                    "while this append staged; re-run the append"
                )
            if mapping_grew:
                # evolution on a mapped table: the commit records the
                # grown map so the minted physical names resolve
                eff_meta = {
                    **(meta or {}),
                    "column_mapping": eff_mapping,
                    "retired_physical": retired,
                }
        if idents != table_identity(table):
            # an identity declaration (set/drop/sync direction change)
            # raced the append: our rows were assigned — or validated
            # as supplied — under the stale declaration
            raise ValueError(
                f"identity declarations on {table} changed while this "
                "append staged; re-run the append"
            )
        if ident_assigned and ident_new_wm:
            cur_wm = identity_watermark(table)
            drift = [
                c for c in ident_assigned
                if cur_wm.get(c) != ident_wm.get(c)
            ]
            if drift:
                # a racing generator already handed out values from the
                # watermark we assigned against — our staged ids could
                # collide with its rows; the ids are baked into files,
                # so the append re-runs (Delta's identity conflict)
                raise ValueError(
                    f"identity watermark of {table} advanced for "
                    f"{drift} while this append staged; re-run the "
                    "append"
                )
            eff_meta = {
                **(eff_meta or {}),
                "identity_watermark": {**cur_wm, **ident_new_wm},
            }
        return commit(
            table,
            "append",
            added,
            [],
            parent,
            schema_json=schema_json,
            meta=eff_meta,
            stats=stats,
            bloom=bloom,
            distinct=distinct,
            pv=pv,
            # only an EXPLICIT partition_by records the declaration
            # (the declaring append). Inherited appends must not
            # re-record what they read: an append racing a
            # tx_repartition_table would otherwise re-publish the
            # stale declaration AFTER the evolution commit and
            # silently revert it (newest-wins resolution).
            partition_by=list(partition_by) if partition_by else None,
        )

    return _retry(table, "append", attempt)


# Safe type-widening ladders (Delta 3.x's type widening, the subset
# Spark's parquet reader upcasts natively — probed: int32 files read
# exactly under a long/double/decimal read schema, float under
# double). A widened column never rewrites a byte: old narrow files
# upcast at scan time; appends narrower than the table's type are
# accepted and stay narrow in their files under the same rule.
_INT_RANK = {"byte": 0, "short": 1, "integer": 2, "long": 3}


def _widen_type(a, b):
    """The wider of two column types when one safely contains the
    other (commutative); None when the pair is not widenable."""
    if a == b:
        return a
    an, bn = a.typeName(), b.typeName()
    if an in _INT_RANK and bn in _INT_RANK:
        return a if _INT_RANK[an] >= _INT_RANK[bn] else b
    if {an, bn} == {"float", "double"}:
        return a if an == "double" else b
    return None


def _validate_append_schema(
    table: str, new_schema: StructType, merge_schema: bool
) -> StructType | None:
    """Enforce the append schema contract against the CURRENT table
    schema; returns that schema (None for a first write)."""
    current = table_schema(table)
    if current is None:
        return None
    cur = {f.name: f.dataType for f in current.fields}
    new = {f.name: f.dataType for f in new_schema.fields}
    changed = [n for n in new if n in cur and new[n] != cur[n]]
    if changed and merge_schema:
        # TYPE WIDENING under evolution: integer-ladder and
        # float->double pairs resolve to the wider type (recorded by
        # _widened_schema_json); anything else still refuses
        changed = [n for n in changed if _widen_type(cur[n], new[n]) is None]
    if changed:
        raise ValueError(
            f"append changes column type(s) {changed}; "
            "pass merge_schema=True for safe type WIDENING "
            "(byte<short<int<long, float<double) — other changes "
            "are not supported"
        )
    extra = set(new) - set(cur)
    missing = set(cur) - set(new)
    if (extra or missing) and not merge_schema:
        raise ValueError(
            f"append schema drift (extra={sorted(extra)}, "
            f"missing={sorted(missing)}); pass merge_schema=True "
            "for additive evolution"
        )
    if missing and merge_schema:
        raise ValueError(
            f"append drops column(s) {sorted(missing)}; evolution "
            "is additive-only"
        )
    return current


def _widened_schema_json(
    current: StructType | None, new_schema: StructType, merge_schema: bool
) -> str:
    if current is not None and merge_schema:
        from pyspark.sql.types import StructField

        new_by_name = {f.name: f for f in new_schema.fields}
        merged = []
        for f in current.fields:
            g = new_by_name.get(f.name)
            wide = (
                _widen_type(f.dataType, g.dataType)
                if g is not None else None
            )
            merged.append(
                StructField(f.name, wide, f.nullable, f.metadata)
                if wide is not None and wide != f.dataType
                else f
            )
        widened = StructType(
            merged
            + [
                f
                for f in new_schema.fields
                if f.name not in {g.name for g in current.fields}
            ]
        )
        return widened.json()
    return new_schema.json()


def committed_txn_batches(table: str, app: str) -> set[int]:
    """Batch ids committed by streaming writer ``app`` in the commits
    STILL IN THE LOG (the Delta ``txn`` action re-expressed). For the
    idempotence decision use :func:`txn_seen`, which also consults the
    checkpoint-folded high-water mark and therefore survives
    :func:`tx_expire_versions` truncating the prefix."""
    out = set()
    for v in log_versions(table):
        rec = read_commit(table, v)
        if rec.get("txn_app") == app and "txn_batch" in rec:
            out.add(int(rec["txn_batch"]))
    return out


def snapshot_txns(table: str, version: int | None = None) -> dict:
    """Per-app high-water batch marks at a version: ``{app:
    max_batch}`` — checkpoint-plus-tail replay (:func:`_replay`).
    Spark's epoch ids are monotone per query and only the latest batch
    replays, so the MAX is the whole idempotence state (Delta keeps
    exactly this per ``appId``)."""
    return dict(_snapshot_state(table, version)["txns"])


def txn_seen(table: str, app: str, batch_id: int) -> bool:
    """Has streaming writer ``app`` already committed ``batch_id``?
    True iff the id is at-or-below the app's high-water mark — exact
    because epoch ids are monotone and only the newest batch ever
    replays. Survives log expiration (the mark folds through
    checkpoints)."""
    return int(batch_id) <= snapshot_txns(table).get(app, -1)


def tx_history(spark: SparkSession, table: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per surviving commit — version,
    action, commit timestamp (in-commit when recorded, else the
    commit file's mtime), file/DV/sidecar counts, and the streaming
    txn identity if any. Reads only the log (kilobytes per commit);
    history older than the retention horizon is absent by
    construction (:func:`tx_expire_versions`)."""
    rows = []
    for v in log_versions(table):
        rec = read_commit(table, v)
        rows.append(
            (
                v,
                rec["action"],
                float(rec.get("ts") or os.path.getmtime(
                    _commit_path(table, v))),
                len(rec["added"]),
                len(rec["removed"]),
                sum(len(p) for p in rec.get("dv", {}).values()),
                "cdc" in rec,
                rec.get("txn_app"),
                int(rec["txn_batch"]) if "txn_batch" in rec else None,
            )
        )
    return spark.createDataFrame(
        rows,
        "version long, action string, commit_ts double, n_added int, "
        "n_removed int, n_dv_rows int, has_cdc boolean, "
        "txn_app string, txn_batch long",
    )


def tx_detail(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame:
    """DESCRIBE DETAIL: one row summarizing the table's current (or
    pinned) state — version, live file count and bytes, row count
    where stats know it, and every declared metadata plane (partition
    columns, clustering, constraints, defaults, generated columns,
    identity, column mapping, row tracking). Reads ONLY the log and
    one ``os.stat`` per live file (no data I/O) — O(files) metadata at
    any table size, the operational dashboard query."""
    v, files = snapshot_files(table, version)
    if not log_versions(table):
        raise FileNotFoundError(f"no commits under {table}")
    size = sum(
        os.path.getsize(os.path.join(table, f)) for f in files
    )
    stats = snapshot_stats(table, v)
    dvs = snapshot_dvs(table, v)
    known = [stats[f]["n"] for f in files if f in stats]
    # LOGICAL row count: physical footer counts minus rows deletion
    # vectors hide; honestly NULL when any live file lacks stats
    n_rows = (
        sum(known) - sum(len(p) for p in dvs.values())
        if len(known) == len(files) else None
    )
    cm = table_column_mapping(table, v)
    schema = _schema_at(table, v)
    # maintenance-debt gauges: how many live files a REORG PURGE would
    # rewrite, and what fraction of live files an ANALYZE has (or any
    # stats-collecting write had) already made skippable — the two
    # numbers that tell an operator whether to run those verbs
    live_set = set(files)
    num_dv_files = sum(1 for f, p in dvs.items() if p and f in live_set)
    stats_files = sum(1 for f in files if stats.get(f, {}).get("c"))
    row = (
        os.path.abspath(table),
        int(v),
        float(commit_timestamp(table, v)),
        len(files),
        int(size),
        n_rows,
        sum(len(p) for p in dvs.values()),
        num_dv_files,
        stats_files,
        len(schema.fields) if schema is not None else 0,
        table_partition_by(table, v),
        table_cluster_by(table, v),
        sorted(table_constraints(table, v)),
        sorted(table_column_defaults(table, v)),
        sorted(table_generated_columns(table, v)),
        sorted(table_identity(table, v)),
        bool(cm),
        table_row_tracking(table, v),
    )
    return spark.createDataFrame(
        [row],
        "location string, version long, commit_ts double, "
        "num_files int, size_bytes long, num_rows long, "
        "num_dv_rows int, num_dv_files int, num_statted_files int, "
        "num_columns int, "
        "partition_columns array<string>, cluster_by array<string>, "
        "constraints array<string>, column_defaults array<string>, "
        "generated_columns array<string>, identity_columns "
        "array<string>, column_mapped boolean, row_tracking boolean",
    )


def commit_timestamp(table: str, v: int) -> float:
    """A commit's publication time: the IN-COMMIT timestamp when the
    record carries one (Delta's inCommitTimestamps — stamped by the
    committing writer, monotone by construction, and IMMUNE to the
    file's mtime changing under rsync/backup-restore/cp of the log
    directory), else the commit file's mtime (pre-feature history)."""
    rec = read_commit(table, v)
    ts = rec.get("ts")
    return float(ts) if ts is not None else os.path.getmtime(
        _commit_path(table, v)
    )


def version_at_timestamp(table: str, ts: float) -> int:
    """Resolve a wall-clock time to the commit version live AT that
    instant — the newest commit published at-or-before ``ts``
    (Delta's ``TIMESTAMP AS OF``, resolved from in-commit timestamps
    with an mtime fallback — :func:`commit_timestamp`). Raises if
    ``ts`` predates the first surviving commit — possibly because
    :func:`tx_expire_versions` truncated the history that covered it.
    """
    best = None
    for v in log_versions(table):
        if commit_timestamp(table, v) <= ts:
            best = v
        elif read_commit(table, v).get("ts") is not None:
            # in-commit timestamps are monotone by construction, so
            # every later commit is strictly newer — safe to stop.
            # An MTIME-resolved commit is not: rsync/cp of the log
            # sets pre-feature commits' mtimes to copy time, LARGER
            # than later in-commit stamps — breaking there would hide
            # every newer ts-carrying commit from timestamp travel,
            # so mtime misses keep scanning instead.
            break
    if best is None:
        raise ValueError(
            f"no commit of {table} at-or-before timestamp {ts} "
            "(before table creation, or expired history)"
        )
    return best


def version_on_or_after_timestamp(table: str, ts: float) -> int:
    """The first commit published at-or-after ``ts`` — Delta's
    ``startingTimestamp`` resolution for streaming reads (the stream
    begins AT that commit, inclusive; contrast
    :func:`version_at_timestamp`, which answers "what was live",
    i.e. at-or-BEFORE, for batch time travel). Returns head+1 when
    ``ts`` is beyond every commit: only future commits stream."""
    versions = log_versions(table)
    for v in versions:
        if commit_timestamp(table, v) >= ts:
            return v
    return (versions[-1] + 1) if versions else 1


def _pv_str(x) -> str | None:
    """A Python literal rendered EXACTLY as Spark's ``CAST(col AS
    STRING)`` renders the same value — the format
    :func:`_stage_partitioned` records partition values in. Pruning
    compares these strings, so the filter side must stringify
    identically or recorded files get wrongly pruned (``str(True)`` is
    ``'True'``; Spark writes ``'true'``). Booleans lowercase;
    timestamps print ``YYYY-MM-DD HH:MM:SS[.f]`` with the fractional
    part's trailing zeros trimmed (Spark omits ``.000000``, Python
    never does); dates are ISO. Ints, strings, and Decimals agree
    under plain ``str``. Floats are best-effort (Spark uses Java
    ``Double.toString`` scientific notation at the extremes) — a
    float partition column is already a modeling smell."""
    import datetime as _dt

    if x is None:
        return None
    if isinstance(x, bool):
        return "true" if x else "false"
    if isinstance(x, _dt.datetime):
        s = x.strftime("%Y-%m-%d %H:%M:%S")
        if x.microsecond:
            s += (".%06d" % x.microsecond).rstrip("0")
        return s
    if isinstance(x, _dt.date):
        return x.isoformat()
    return str(x)


def prune_partition_files(
    table: str,
    files: list[str],
    partition_filter: dict,
    version: int | None = None,
) -> list[str]:
    """The subset of ``files`` a read constrained to ``partition_filter``
    ({col: value-or-list}) must open: files whose RECORDED partition
    values match, plus files with no recorded values (rewrites,
    pre-partitioning history) — conservative, never wrong. Pure log
    metadata; no file is touched. Values compare stringified via
    :func:`_pv_str`, exactly as :func:`_stage_partitioned` recorded
    them (None matches a requested None — the null partition).

    Filter keys MUST be declared partition columns: a non-partition
    column can never match any recorded value map, so it would
    silently prune EVERY value-pure file (wrong results, not slow
    results) — raise instead."""
    declared = set(table_partition_by(table, version))
    unknown = sorted(set(partition_filter) - declared)
    if unknown:
        raise ValueError(
            f"partition_filter column(s) {unknown} are not partition "
            f"columns of {table} (declared: {sorted(declared) or 'none'}); "
            "filter them row-level instead"
        )
    pv = snapshot_pv(table, version)
    want = {
        c: {_pv_str(x)
            for x in (v if isinstance(v, (list, tuple, set)) else [v])}
        for c, v in partition_filter.items()
    }
    kept = []
    for f in files:
        vals = pv.get(f)
        if vals is None:
            kept.append(f)  # unrecorded layout: must read
            continue
        # a file is skippable ONLY when a filter column it RECORDS
        # provably mismatches. A file recording OTHER columns (staged
        # under a previous declaration, before tx_repartition_table)
        # says nothing about these — must read, conservative like
        # unrecorded files. Treating missing columns as non-matching
        # would silently drop their rows.
        if any(
            c in vals and vals[c] not in w for c, w in want.items()
        ):
            continue
        kept.append(f)
    return kept


def read_snapshot(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    timestamp: float | None = None,
    partition_filter: dict | None = None,
    with_row_ids: bool = False,
) -> DataFrame:
    """Snapshot-isolated read of a committed version (latest by
    default; ``version`` = VERSION AS OF, ``timestamp`` = Delta's
    TIMESTAMP AS OF via :func:`version_at_timestamp`). The returned
    plan references explicit immutable files — later commits cannot
    change what it reads. Merge-on-read deletion vectors
    (tx_delete_where_mor) are applied transparently.

    ``partition_filter`` ({col: value-or-list}) prunes the file list
    from the log's recorded partition values BEFORE planning the scan
    (:func:`prune_partition_files`), then applies the same predicate
    row-level — so files rewrites left unrecorded stay exact, they
    just aren't pruned.

    ``with_row_ids`` (requires :func:`tx_enable_row_tracking`) serves
    two extra columns: ``_row_id`` — the row's STABLE identity, the
    same value at every version since the row was written, across
    compaction/z-order/update/repartition — and
    ``_row_commit_version`` — the commit that produced the row's
    current image."""
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        version = version_at_timestamp(table, timestamp)
    v, files = snapshot_files(table, version)
    versions = log_versions(table)
    if not versions:
        raise FileNotFoundError(f"no commits under {table}")
    if partition_filter:
        files = prune_partition_files(table, files, partition_filter, v)
    schema = _schema_at(table, None if version is None else v)
    mv = None if version is None else v  # mapping AS OF the pin
    if with_row_ids and not table_row_tracking(table, mv):
        raise ValueError(
            f"row tracking is not enabled on {table} at this version "
            "(tx_enable_row_tracking first)"
        )
    if not files:
        if schema is None:
            raise FileNotFoundError(f"version {v} of {table} is empty, no schema")
        df = empty_frame(spark, schema)
        if with_row_ids:
            from pyspark.sql import functions as F

            df = df.withColumn(
                "_row_id", F.lit(None).cast("long")
            ).withColumn("_row_commit_version", F.lit(None).cast("long"))
        return df
    reader = _data_reader(spark, table, schema, mv, row_ids=with_row_ids)
    if with_row_ids:
        df = _materialize_row_ids(
            _tagged_scan(
                reader, table, files, snapshot_dvs(table, v),
                serve_version=mv,
            ),
            table, v,
        )
        df = df.withColumnRenamed(_ROW_ID_COL, "_row_id").withColumnRenamed(
            _ROW_COMMIT_COL, "_row_commit_version"
        ).drop("__rel", "__pos")
    else:
        df = reader.parquet(*[os.path.join(table, f) for f in files])
        df = _apply_dvs(df, table, snapshot_dvs(table, v))
        df = _serve_logical(df, table, mv)
    if partition_filter:
        from pyspark.sql import functions as F

        for c, vals in partition_filter.items():
            vlist = list(vals) if isinstance(vals, (list, tuple, set)) else [vals]
            nn = [x for x in vlist if x is not None]
            cond = F.col(c).isin(nn) if nn else F.lit(False)
            if any(x is None for x in vlist):
                cond = cond | F.col(c).isNull()
            df = df.filter(cond)
    return df


def tx_partitions(table: str, version: int | None = None) -> list[dict]:
    """SHOW PARTITIONS: the distinct recorded partition-value
    combinations live at a version, from log metadata alone. Files
    without recorded values (rewrites) are not represented — this
    lists the PRUNABLE layout, not a row-level fact."""
    cols = table_partition_by(table, version)
    if not cols:
        return []
    seen = {
        tuple(vals.get(c) for c in cols)
        for vals in snapshot_pv(table, version).values()
    }
    return [dict(zip(cols, t)) for t in sorted(
        seen, key=lambda t: tuple((x is None, x or "") for x in t)
    )]


def _schema_at(table: str, version: int | None) -> StructType | None:
    """The schema AS OF a version (newest commit <= version that
    recorded one; latest when version is None) — also what makes
    additive schema evolution serve correctly: old files lack the new
    columns and read as NULL under the explicit schema, with no
    mergeSchema footer pass. Read from the checkpoint-plus-tail
    replay (:func:`_replay`), which folds the schema like the file
    list, so resolution is O(tail commits) even across a long run of
    schema-less commits (bloom backfills, MOR deletes); a checkpoint
    written before schemas were folded defers to the versions before
    it."""
    folded = _meta_state(table, version)["schema"]
    return StructType.fromJson(json.loads(folded)) if folded else None


def tx_read_skipping(
    spark: SparkSession,
    table: str,
    col: str | dict,
    lo=None,
    hi=None,
    version: int | None = None,
) -> tuple[DataFrame, int, int]:
    """Snapshot-isolated scan with FILE-LEVEL data skipping from the
    commit log's per-file stats: live files whose recorded [min, max]
    for ``col`` cannot intersect [lo, hi] are never opened. This is
    ACID and skipping COMPOSING: the stats ride the same atomic commit
    as the file list (append/delete/compact each record stats for the
    files they add), so a pinned version sees exactly the stats of its
    own snapshot — no separate manifest that can go stale.

    ``col`` may instead map several columns to ``(lo, hi)`` bounds
    (``lo``/``hi`` are then unused); a file survives only if EVERY
    column's range overlaps. That intersection is where a z-ordered
    layout (``tx_append(cluster_by=)``) earns its keep: per-file
    ranges are tight in every clustered dimension, while a
    single-column sort is tight in one only. Either bound may be None
    (open).

    Files with no recorded stats for a column are always read (stats
    prove non-membership, never membership), and the residual row
    filter is still applied and pushed into the surviving files' row
    groups. Returns (DataFrame, n_files_read, n_files_total).

    Timestamp/date bounds compare in ISO-8601 text (order-preserving);
    pass ``lo``/``hi`` as datetime/date objects or ISO strings.
    """
    from .lake import exact_lit

    ranges = dict(col) if isinstance(col, dict) else {col: (lo, hi)}
    v, files = snapshot_files(table, version)
    if not files:
        return read_snapshot(spark, table, version), 0, 0
    stats = snapshot_stats(table, v)
    bounds = {
        c: (_json_safe(a), _json_safe(b)) for c, (a, b) in ranges.items()
    }
    keep = []
    for f in files:
        fstats = stats.get(f, {}).get("c", {})
        for c, (lo_s, hi_s) in bounds.items():
            rng = fstats.get(c)
            if rng is None:
                continue  # no stats -> must read
            if (lo_s is not None and rng[1] < lo_s) or (
                hi_s is not None and rng[0] > hi_s
            ):
                break
        else:
            keep.append(f)
    schema = _schema_at(table, None if version is None else v)
    from pyspark.sql import functions as F

    if not keep:
        if schema is None:  # schema-less log: derive from one footer
            schema = spark.read.parquet(os.path.join(table, files[0])).schema
        df = empty_frame(spark, schema)
    else:
        mv = None if version is None else v
        reader = _data_reader(spark, table, schema, mv)
        df = reader.parquet(*[os.path.join(table, f) for f in keep])
        dvs = snapshot_dvs(table, v)
        keep_set = set(keep)
        df = _apply_dvs(df, table, {f: p for f, p in dvs.items() if f in keep_set})
        df = _serve_logical(df, table, mv)
    for c, (a, b) in ranges.items():
        if a is not None:
            df = df.filter(F.col(c) >= exact_lit(a))
        if b is not None:
            df = df.filter(F.col(c) <= exact_lit(b))
    return df, len(keep), len(files)


def _partition_only_equality(
    table: str, predicate_sql: str
) -> dict | None:
    """``{col: {stringified values}}`` when the predicate is purely a
    conjunction of ``col = literal`` / ``col IN (literals)`` clauses
    over DECLARED partition columns — the shape whose all-match files
    a delete can drop metadata-only. Anything else (expressions,
    non-partition columns, OR, IS NULL, ambiguous literals) returns
    None and the caller takes the ordinary row-level path.

    Soundness rule: a file is later classified all-match only when its
    RECORDED value for every filter column equals a requested
    stringified literal — the same :func:`_pv_str` rendering the
    stager recorded, so "pure" can never over-claim. Files that fail
    the pure test are NEVER skipped on this evidence (stringification
    drift must not hide matching rows) — they stay in the scan set."""
    import re as _re

    declared = set(table_partition_by(table))
    if not declared:
        return None

    def lit(tok: str):
        tok = tok.strip()
        if len(tok) >= 2 and tok[0] == "'" and tok[-1] == "'":
            return tok[1:-1]
        if tok.lower() in ("true", "false"):
            return tok.lower() == "true"
        try:
            return int(tok)
        except ValueError:
            pass
        try:
            return float(tok)
        except ValueError:
            return None  # unparseable literal: no fast path

    _L = r"(?:'[^']*'|-?\d+(?:\.\d+)?|true|false|TRUE|FALSE|True|False)"
    out: dict = {}
    for clause in _re.split(r"(?i)\s+AND\s+", predicate_sql.strip()):
        clause = clause.strip()
        while clause.startswith("(") and clause.endswith(")"):
            clause = clause[1:-1].strip()
        m = _re.fullmatch(rf"`?(\w+)`?\s*=\s*({_L})", clause)
        if m:
            vals = [lit(m.group(2))]
        else:
            m = _re.fullmatch(
                rf"`?(\w+)`?\s+(?i:IN)\s*\(\s*({_L}(?:\s*,\s*{_L})*)\s*\)",
                clause,
            )
            if not m:
                return None
            vals = [lit(x) for x in _re.findall(_L, m.group(2))]
        col = m.group(1)
        if col not in declared or any(v is None for v in vals):
            return None
        want = {_pv_str(v) for v in vals}
        # repeated column in the conjunction: intersect (p=1 AND p=2
        # matches nothing; the empty set classifies no file as pure)
        out[col] = out[col] & want if col in out else want
    return out or None


def _pure_split(
    table: str, files: list[str], pf: dict | None
) -> tuple[list[str], list[str]]:
    """Split ``files`` by a :func:`_partition_only_equality` filter into
    (pure, scan): pure files' RECORDED partition values prove every
    row matches (droppable metadata-only); the rest must be scanned.
    No filter = nothing is pure."""
    if not pf:
        return [], files
    pv_map = snapshot_pv(table)
    pure = [
        f
        for f in files
        if (vals := pv_map.get(f)) is not None
        and all(c in vals and vals[c] in w for c, w in pf.items())
    ]
    pure_set = set(pure)
    return pure, [f for f in files if f not in pure_set]


def _cow_rewrite(
    spark: SparkSession,
    table: str,
    op: str,
    predicate_sql: str,
    image,
    stats_cols: list[str] | None = None,
    pure_ok: bool = False,
    cdc=None,
    insert=None,
    read_predicate: str | None = None,
) -> tuple[int, int]:
    """The copy-on-write kernel behind DELETE, UPDATE and replaceWhere:
    snapshot, find the files holding predicate-true rows, rewrite
    them, and commit (removed = hit files, added = rewrites) against
    the snapshot parent; on :class:`TxConflict` redo it all from a
    fresh snapshot. The read uses the RECORDED schema, never footer
    inference: after an additive merge_schema append the live set is
    mixed-schema, and one footer would drop evolved columns from the
    rewrite for good. The commit re-records that schema.

    Callers supply what differs: ``image(src, pred)`` rewrites the hit
    files' :func:`_live_rows`; ``pure_ok`` drops provably-all-match
    partition files metadata-only; ``cdc(src, pred)`` is the change
    frame to stage; ``insert()`` re-plans fresh rows per attempt as
    :func:`_complete_append_laws`' tuple (the commit then lands even
    when no row hits); ``read_predicate`` becomes the commit's read
    set. Returns (new_version, files_removed)."""
    from pyspark.sql import functions as F

    pf = _partition_only_equality(table, predicate_sql) if pure_ok else None
    pred = F.coalesce(F.expr(predicate_sql), F.lit(False))

    def attempt():  # fresh snapshot, re-find affected files
        ins = insert() if insert is not None else None
        parent, files = snapshot_files(table)
        if not files and ins is None:
            return parent, 0
        schema = table_schema(table)
        schema_json = schema.json() if schema is not None else None
        dvs = snapshot_dvs(table)
        pure, scan_files = _pure_split(table, files, pf)
        hit_rels = sorted(
            r["__rel"]
            for r in _tagged_scan(
                _data_reader(spark, table, schema), table, scan_files, dvs
            ).filter(pred).select("__rel").distinct().collect()
        ) if scan_files else []
        if not hit_rels and not pure and ins is None:
            return parent, 0
        added, pv, cdc_rel = [], {}, None
        if hit_rels:
            src = _live_rows(spark, table, schema, hit_rels, dvs)
            # _stage drops empty part files, so an all-deleted rewrite
            # stages nothing without a separate emptiness probe
            added, p = _stage_for(image(src, pred), table)
            pv.update(p or {})
            if cdc is not None:
                cdc_rel = _stage_cdc(cdc(src, pred), table)
        eff_stats, new_files, assigned = stats_cols, [], []
        if ins is not None:
            ins_df, eff_stats, idents, ident_wm, assigned = ins
            new_files, p = _stage_for(ins_df, table)
            added += new_files
            pv.update(p or {})
        stats = (
            collect_file_stats(table, added, eff_stats)
            if eff_stats and added else None
        )
        meta = (
            _ident_meta(table, idents, assigned, stats, ident_wm)
            if new_files and assigned else None
        )
        read_pf = None
        if read_predicate is not None and pf:
            # the disjointness exemption compares against commit-
            # recorded pv (PHYSICAL keys) — translate the parsed
            # predicate's logical keys so it still fires on
            # column-mapped tables
            lm = _effective_mapping(table) or {}
            read_pf = {lm.get(c, c): w for c, w in pf.items()}
        removed = sorted(set(pure) | set(hit_rels))
        v = commit(
            table, op, added, removed, parent,
            schema_json=schema_json, stats=stats, cdc=cdc_rel,
            pv=pv or None, meta=meta, read_predicate=read_predicate,
            read_pf=read_pf,
        )
        return v, len(removed)

    return _retry(table, op, attempt)


def tx_delete_where(
    spark: SparkSession,
    table: str,
    predicate_sql: str,
    stats_cols: list[str] | None = None,
    write_cdc: bool = False,
) -> tuple[int, int]:
    """Transactional row-level delete: rewrite only the files that
    contain matching rows, commit (removed=affected, added=rewrites)
    against the snapshot parent; on :class:`TxConflict` retry the
    whole read-rewrite-commit against a fresh snapshot (:func:`_retry`).

    NULL predicate rows survive (3VL: DELETE removes only
    predicate-true rows; the predicate is coalesced to FALSE).

    METADATA-ONLY fast path (Delta's partition delete): when the
    predicate is a conjunction of equality/IN literals over declared
    partition columns, every file whose RECORDED partition values
    prove all its rows match is dropped from the log with NO data
    I/O — ``DELETE FROM t WHERE day = X`` on a 100 TB table is then
    O(files) driver metadata. Files the record can't prove pure
    (rewrites with unrecorded layout, pre-declaration history) keep
    the exact row-level rewrite, in the SAME atomic commit. The fast
    path is soundness-gated: "pure" requires the recorded value to
    equal the literal under the exact stringification the stager
    used, and a failed pure test never skips a file.

    ``write_cdc``: persist the deleted rows as a change-data sidecar
    riding the commit (Delta's CDF-at-write-time trade: one extra
    O(deleted rows) write makes ``tx_changes`` for this commit a plain
    sidecar scan and the commit streamable by ``readChangeFeed``).
    The CDC image must contain the dropped rows, so ``write_cdc``
    reads the pure files too — correctness over the shortcut.

    Returns (new_version, files_rewritten) — rewritten counts every
    removed file, metadata-dropped or rewritten.
    """
    from pyspark.sql import functions as F

    def deleted(src, pred):
        return (
            src.filter(pred)
            .drop(_ROW_ID_COL, _ROW_COMMIT_COL)
            .withColumn("_change_type", F.lit("delete"))
        )

    return _cow_rewrite(
        spark, table, "delete", predicate_sql,
        image=lambda src, pred: src.filter(~pred),
        stats_cols=stats_cols, pure_ok=not write_cdc,
        cdc=deleted if write_cdc else None,
    )


def _complete_append_laws(
    df: DataFrame, table: str, stats_cols: list[str] | None
) -> tuple[DataFrame, list[str] | None, dict, dict, list[str]]:
    """Apply the append-side laws to a frame about to land as fresh
    rows outside :func:`tx_append` (replaceWhere's insert side, COPY
    INTO): DEFAULTs fill, an omitted identity column is assigned (one
    pinned evaluation), declared clustering columns join the stats,
    GENERATED columns fill/enforce, reserved names reject, the strict
    (non-evolving) schema contract validates, and CHECK constraints
    enforce. Returns (df, stats_cols, idents, ident_wm,
    ident_assigned) — the caller records the advanced watermark when
    it assigned."""
    from pyspark.sql import functions as F

    defaults = table_column_defaults(table)
    if defaults:
        cur_schema = table_schema(table)
        cur_types = (
            {f.name: f.dataType for f in cur_schema.fields}
            if cur_schema is not None else {}
        )
        for c, expr in defaults.items():
            if c not in df.columns and c in cur_types:
                df = df.withColumn(c, F.expr(expr).cast(cur_types[c]))
    idents = table_identity(table)
    ident_wm = identity_watermark(table)
    ident_assigned: list[str] = []
    for c, spec in sorted(idents.items()):
        if c in df.columns:
            if spec["always"]:
                raise ValueError(
                    f"column {c!r} of {table} is GENERATED ALWAYS AS "
                    "IDENTITY; writes may not supply it"
                )
            continue
        start, step = int(spec["start"]), int(spec["step"])
        base = _ident_next_base(
            start, step, int(ident_wm.get(c, start - step))
        )
        df = df.withColumn(
            c,
            (
                F.lit(base) + F.monotonically_increasing_id() * F.lit(step)
            ).cast("long"),
        )
        ident_assigned.append(c)
    if ident_assigned:
        stats_cols = sorted(set(stats_cols or []) | set(ident_assigned))
        # pin ONE evaluation of the nondeterministic assignment (same
        # rule as append/merge: validation and staging must agree)
        df = df.localCheckpoint()
    declared_cluster = table_cluster_by(table)
    if declared_cluster:
        stats_cols = sorted(set(stats_cols or []) | set(declared_cluster))
    df, _ = _apply_generated(df, table)
    if any(c in df.columns for c in (_ROW_ID_COL, _ROW_COMMIT_COL)):
        raise ValueError(
            f"column names {_ROW_ID_COL!r}/{_ROW_COMMIT_COL!r} are "
            "reserved for row tracking's materialized ids"
        )
    _validate_append_schema(table, df.schema, merge_schema=False)
    _enforce_constraints(df, table)
    return df, stats_cols, idents, ident_wm, ident_assigned


def tx_derive_partition_filter(
    spark: SparkSession, table: str, source_filter: dict
) -> dict:
    """Delta's generated-column partition derivation: a table
    partitioned by GENERATED columns (``tx_set_generated`` +
    ``partition_by``, e.g. ``day = to_date(ts)``) can prune from a
    filter on the SOURCE columns alone — the reader never needs to
    know the layout column exists.

    ``source_filter`` is {source_col: value-or-list} EQUALITY/IN
    literals. For every declared partition column: a directly-filtered
    column passes through; a GENERATED one whose expression references
    ONLY filtered source columns derives its value set by evaluating
    the expression over the literal combinations — in Spark itself
    (one driver-side VALUES plan, zero table I/O), so the derivation
    uses byte-identical semantics to what the stager computed when it
    recorded partitionValues. Generated columns referencing UNFILTERED
    sources contribute nothing (conservative — their files simply
    don't prune). Returns a ``partition_filter`` for
    :func:`read_snapshot` / the DS faces.

    Soundness: generated expressions are deterministic by contract
    (validated at declaration), and equality pins every referenced
    input, so each combination yields exactly the value the matching
    rows' files recorded. Cost: one tiny local plan per derived
    column — O(|literal combinations|) rows, never data."""
    import itertools
    import re as _re

    declared = table_partition_by(table)
    if not declared:
        raise ValueError(f"{table} declares no partition columns")
    gmap = table_generated_columns(table)
    norm = {
        c: list(v) if isinstance(v, (list, tuple, set)) else [v]
        for c, v in source_filter.items()
    }
    out: dict = {}
    for pc in declared:
        if pc in norm:
            out[pc] = norm[pc]
            continue
        expr = gmap.get(pc)
        if expr is None:
            continue
        # the expression's identifier set must be fully pinned
        idents = set(_re.findall(r"[A-Za-z_]\w*", expr))
        refs = [c for c in norm if c in idents]
        unpinned = [
            f.name
            for f in (table_schema(table) or StructType([])).fields
            if f.name in idents and f.name not in norm and f.name != pc
        ]
        if not refs or unpinned:
            continue
        schema = table_schema(table)
        types = {f.name: f.dataType.simpleString() for f in schema.fields}
        rows = list(itertools.product(*[norm[c] for c in refs]))
        src = spark.createDataFrame(
            rows, ", ".join(f"{c} {types[c]}" for c in refs)
        )
        vals = [
            r["__g"]
            for r in src.selectExpr(f"({expr}) AS __g").distinct().collect()
        ]
        out[pc] = vals
    if not out:
        raise ValueError(
            f"no partition column of {table} is derivable from "
            f"{sorted(source_filter)} (generated expressions reference "
            "unfiltered sources)"
        )
    return out


def tx_replace_where(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    predicate_sql: str,
    stats_cols: list[str] | None = None,
) -> tuple[int, int]:
    """Delta's ``replaceWhere``: ATOMICALLY replace exactly the rows
    matching the predicate with ``df``'s rows — the standard backfill
    idiom (recompute one day/partition, swap it in, readers never see
    the gap between delete and insert that two commits would open).

    Delta's constraint applies: every replacement row must itself
    satisfy the predicate (checked first; nothing lands otherwise) —
    a replacement that leaks rows outside its scope would silently
    double them against the untouched files.

    The deletion side reuses the partition fast path: a predicate of
    partition equality/IN literals drops provably-all-match files
    metadata-only, while unprovable files get the exact row-level
    rewrite — so backfilling a partitioned table costs the NEW data's
    write plus O(files) metadata, never a read of the old partition.
    The insertion side obeys the append laws: DEFAULTs fill, GENERATED
    columns fill/enforce, an omitted identity column is assigned
    (watermark advanced in the same commit), CHECK constraints
    validate, and the staged files honor the declared partitioning
    with recorded partition values and clustering stats.

    Concurrency: the commit records the predicate as its READ SET, so
    an interleaved append conflicts (Delta's ConcurrentAppendException
    for replaceWhere — a racer's matching rows would otherwise survive
    the swap and double against the replacement) UNLESS the predicate
    is pure partition equality and the racer's files are provably in
    other partitions; and the append laws re-plan on every retry
    attempt (fresh identity watermark read, generator-vs-generator
    conflict at commit), so assigned identity values can never
    duplicate a racing generator's nor roll its watermark back.

    Returns (new_version, files_removed).
    """
    from pyspark.sql import functions as F

    checked_pred = False

    def insert():
        # append laws re-run PER ATTEMPT (mirrors tx_copy_into): the
        # identity watermark is re-read fresh, ids re-assigned, and
        # the commit records {**fresh_wm, **new_wm} — a stale map here
        # would roll a racing generator's reservation back and re-issue
        # its values (silent uniqueness violation)
        nonlocal checked_pred
        laws = _complete_append_laws(df, table, stats_cols)
        if not checked_pred:
            pred = F.coalesce(F.expr(predicate_sql), F.lit(False))
            if laws[0].filter(~pred).limit(1).count():
                raise ValueError(
                    "replaceWhere data must satisfy the predicate "
                    f"{predicate_sql!r} (Delta's rule: a replacement "
                    "may not write outside the range it replaces)"
                )
            checked_pred = True  # law-invariant across attempts
        return laws

    return _cow_rewrite(
        spark, table, "replace_where", predicate_sql,
        image=lambda src, pred: src.filter(~pred),
        pure_ok=True, insert=insert, read_predicate=predicate_sql,
    )


def tx_update_where(
    spark: SparkSession,
    table: str,
    predicate_sql: str,
    assignments: dict[str, str],
    stats_cols: list[str] | None = None,
    write_cdc: bool = False,
) -> tuple[int, int]:
    """Transactional row-level UPDATE (copy-on-write): rewrite only
    the files containing predicate-true rows, applying ``assignments``
    (column -> SQL expression) to those rows and copying the rest
    through unchanged.

    Standard UPDATE semantics, both of which the oracle can check:

    - SIMULTANEOUS assignment — every expression sees PRE-update
      values, so ``{"a": "b", "b": "a"}`` swaps (all expressions are
      evaluated against the input row in one projection);
    - 3VL predicate — NULL-predicate rows are NOT updated;
    - the column's declared type is preserved (assignment results are
      cast to it; ANSI mode makes a lossy cast an error, not a silent
      corruption).

    Same concurrency contract as :func:`tx_delete_where`: commit
    (removed=hit files, added=rewrites) against the snapshot parent,
    retry the whole read-rewrite-commit on :class:`TxConflict`
    (:func:`_retry`).
    Returns (new_version, files_rewritten).
    """
    from pyspark.sql import functions as F

    def assigned(src) -> dict:
        # every expression sees the PRE-update row and casts to its
        # column's declared type
        types = {f.name: f.dataType for f in src.schema.fields}
        return {
            c: F.expr(e).cast(types[c])
            for c, e in assignments.items() if c in types
        }

    def image(src, pred):
        unknown = sorted(set(assignments) - set(src.columns))
        if unknown:
            raise ValueError(f"UPDATE of unknown columns: {unknown}")
        gmap = table_generated_columns(table)
        gen_set = sorted(set(assignments) & set(gmap))
        if gen_set:
            raise ValueError(
                f"cannot UPDATE generated column(s) {gen_set}; they "
                "recompute from their expressions (Delta's rule)"
            )
        ids = table_identity(table)
        id_set = sorted(
            c for c in set(assignments) & set(ids) if ids[c]["always"]
        )
        if id_set:
            raise ValueError(
                f"cannot UPDATE GENERATED ALWAYS AS IDENTITY column(s) "
                f"{id_set} (Delta's rule; declare BY DEFAULT to allow it)"
            )
        if _ROW_COMMIT_COL in src.columns:
            # row tracking: an UPDATED row's materialized commit version
            # is NULLed so it resolves to THIS commit (the one that
            # produced its new image) through the base-map fallback
            src = src.withColumn(
                _ROW_COMMIT_COL,
                F.when(pred, F.lit(None).cast("long")).otherwise(
                    F.col(_ROW_COMMIT_COL)
                ),
            )
        new = assigned(src)
        rewritten = src.select(
            *[F.when(pred, new[c]).otherwise(F.col(c)).alias(c)
              if c in new else F.col(c) for c in src.columns]
        )
        types = {f.name: f.dataType for f in src.schema.fields}
        # generated columns RECOMPUTE on the updated rows (an update
        # to a source column must never leave a stale derived value)
        for c, expr in gmap.items():
            if c in types:
                rewritten = rewritten.withColumn(
                    c,
                    F.when(pred, F.expr(expr).cast(types[c]))
                    .otherwise(F.col(c)),
                )
        # CHECK constraints hold on the POST-update rows (the rewrite
        # re-lands untouched rows too, but those passed at their own
        # write time; validating the whole rewrite is one pass and
        # also catches drift from earlier unconstrained history)
        _enforce_constraints(rewritten, table)
        return rewritten

    def changes(src, pred):
        # Delta's UPDATE change-data encoding: the predicate rows'
        # pre-update state as 'update_preimage' and their post-update
        # state (the same simultaneous-assignment projection) as
        # 'update_postimage' — consumers that fold signed deltas weight
        # preimage -1 / postimage +1, and consumers that care WHY a row
        # changed can tell an update from an unrelated delete+insert
        hit = src.filter(pred).drop(_ROW_ID_COL, _ROW_COMMIT_COL)
        new = assigned(hit)
        post = hit.select(
            *[new.get(c, F.col(c)).alias(c) for c in hit.columns]
        )
        return hit.withColumn(
            "_change_type", F.lit("update_preimage")
        ).unionByName(
            post.withColumn("_change_type", F.lit("update_postimage"))
        )

    return _cow_rewrite(
        spark, table, "update", predicate_sql,
        image=image, stats_cols=stats_cols,
        cdc=changes if write_cdc else None,
    )


def tx_delete_where_mor(
    spark: SparkSession,
    table: str,
    predicate_sql: str,
    max_dv_rows: int = 1_000_000,
) -> tuple[int, int]:
    """MERGE-ON-READ row-level delete: record the matching rows'
    (file, row_index) positions as DELETION VECTORS in the commit —
    no data file is rewritten. Readers apply the vectors transparently
    (``read_snapshot`` / skipping / rewrites), and the next
    compaction/rewrite of a file materializes its deletes and drops
    the vector. This is the fast-delete half of the copy-on-write /
    merge-on-read trade every real lakehouse exposes: O(matches)
    commit cost instead of rewriting every hit file.

    Conflicts: the commit DEPENDS ON the files it vectors — an
    interleaved rewrite of any of them invalidates the positions and
    forces a retry; conversely a rewrite racing this commit conflicts
    through the dv-overlap rule (it was computed without these
    deletes). NULL-predicate rows survive (3VL, same contract as
    :func:`tx_delete_where`).

    ``max_dv_rows`` bounds the driver-side vector of THIS delete
    (vectors ship in the JSON commit and broadcast at read); past it,
    use the rewrite delete. The bound is per delete: readers broadcast
    the union of every vector since a file's last rewrite
    (:func:`snapshot_dvs`), so repeated MOR deletes grow the read-side
    broadcast until a compaction or purge materializes them. Returns
    (new_version, n_rows_deleted).

    The METADATA-ONLY partition fast path applies here too (same
    soundness gate as :func:`tx_delete_where`): provably-all-match
    files DROP from the log instead of vectoring every one of their
    rows — strictly better than a vector on both the commit size and
    every subsequent read, and the vectors cover only the remainder.
    """
    from pyspark.sql import functions as F

    pf = _partition_only_equality(table, predicate_sql)

    def attempt():  # positions went stale; re-find from fresh snapshot
        parent, files = snapshot_files(table)
        if not files:
            return parent, 0
        dvs_now = snapshot_dvs(table)
        pure, scan_files = _pure_split(table, files, pf)
        schema = table_schema(table)
        schema_json = schema.json() if schema is not None else None
        reader = _data_reader(spark, table, schema)
        n = 0
        dv: dict[str, list[int]] = {}
        if scan_files:
            tagged = _tagged_scan(reader, table, scan_files, dvs_now)
            pred = F.coalesce(F.expr(predicate_sql), F.lit(False))
            hits = tagged.filter(pred).select("__rel", "__pos")
            n = hits.count()
            if n > max_dv_rows:
                raise ValueError(
                    f"{n} matching rows > max_dv_rows={max_dv_rows}: a "
                    "vector this size should be a rewrite — use "
                    "tx_delete_where"
                )
            for r in hits.collect():
                dv.setdefault(r["__rel"], []).append(int(r["__pos"]))
            dv = {f: sorted(p) for f, p in dv.items()}
        if n == 0 and not pure:
            return parent, 0
        if pure:
            # deleted-row accounting for the dropped files: footer
            # row count minus already-vectored positions — one footer
            # read per dropped file, no data scan
            import pyarrow.parquet as pq

            n += sum(
                pq.ParquetFile(os.path.join(table, f)).metadata.num_rows
                - len(dvs_now.get(f, ()))
                for f in pure
            )
        v = commit(
            table, "delete_mor", [], pure, parent,
            schema_json=schema_json, dv=dv or None,
            depends_on=sorted(dv) if dv else None,
        )
        return v, n

    return _retry(table, "mor-delete", attempt)


def tx_changes(
    spark: SparkSession,
    table: str,
    from_version: int | None = None,
    to_version: int | None = None,
    from_timestamp: float | None = None,
    to_timestamp: float | None = None,
) -> DataFrame:
    """Row-level change feed for the commits in ``(from_version,
    to_version]`` — the Delta Change Data Feed re-derived from the log
    itself, no extra write-side bookkeeping.

    Because data files are immutable, each commit's row-level effect
    is exactly::

        inserts = rows(added files) EXCEPT ALL rows(removed files)
        deletes = rows(removed files) EXCEPT ALL rows(added files)

    (an update therefore appears as its delete + insert pair, and a
    pure rewrite cancels out). ``compact`` commits are skipped without
    reading a byte — content-preserving by construction. A
    ``delete_mor`` commit emits exactly its newly-vectored rows as
    deletes; rewrite diffs read their removed files UNDER the deletion
    vectors as of the prior version, so a row already deleted by a
    vector is never emitted as a delete twice. Cost is bounded by the
    files the commits in range actually name, never table size.

    Returns the table columns plus ``_change_type`` and
    ``_commit_version``. Computed (except-all) diffs label rows
    'insert' / 'delete' only — a file diff cannot attribute intent.
    Writer-persisted change sets (``write_cdc=True``) carry the
    richer Delta labels: UPDATE and MERGE-matched rows appear as
    'update_preimage' / 'update_postimage' pairs, MERGE-unmatched
    and appended rows as 'insert', deletes as 'delete'. Signed-fold
    consumers weight {insert, update_postimage} +1 and
    {delete, update_preimage} -1.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    versions = log_versions(table)
    if not versions:
        raise FileNotFoundError(f"no commits under {table}")
    # wall-clock bounds (Delta's startingTimestamp/endingTimestamp on
    # table_changes): resolved against IN-COMMIT timestamps — the feed
    # starts at the first commit at-or-after ``from_timestamp``
    # (exclusive lower bound is the prior version) and ends at the
    # newest commit at-or-before ``to_timestamp``
    if from_timestamp is not None:
        if from_version is not None:
            raise ValueError(
                "pass from_version OR from_timestamp, not both"
            )
        from_version = version_on_or_after_timestamp(
            table, from_timestamp
        ) - 1
    if from_version is None:
        raise ValueError("tx_changes needs from_version or from_timestamp")
    if to_timestamp is not None:
        if to_version is not None:
            raise ValueError("pass to_version OR to_timestamp, not both")
        to_version = version_at_timestamp(table, to_timestamp)
    if from_version < versions[0] and not (
        from_version == 0 and versions[0] == 1
    ):
        # the feed needs per-commit diffs, and a commit's diff needs
        # the PRIOR version's state (deletion vectors) — version 0 is
        # trivially empty, but any other below-horizon version was
        # expired with the prefix (tx_expire_versions), as were the
        # expired commits' own changes. Silently skipping either would
        # corrupt the feed (the trap Delta's CDF guards against); the
        # consumer must re-baseline from a snapshot.
        raise ValueError(
            f"change feed from version {from_version} is below the "
            f"retention horizon {versions[0]} (tx_expire_versions "
            "truncated the prefix); re-baseline from read_snapshot"
        )
    hi = versions[-1] if to_version is None else to_version
    parts = []
    for v in versions:
        if v <= from_version or v > hi:
            continue
        rec = read_commit(table, v)
        if rec["action"] in ("compact", "repartition"):
            continue  # content-preserving rewrites: no row-level change
        if rec["action"] == "fsck":
            # the repaired references' bytes were lost EXTERNALLY —
            # their rows cannot be replayed as deletes; a consumer of
            # this range must re-baseline from a snapshot
            raise ValueError(
                f"commit {v} is an FSCK repair (data files were lost); "
                "the change feed cannot replay it — re-baseline from "
                "read_snapshot"
            )
        schema = _schema_at(table, v)
        reader = _data_reader(spark, table, schema, v)

        if rec.get("cdc"):
            # the writer persisted this commit's change set (Delta's
            # change-data file): a plain sidecar scan replaces the
            # except-all diff entirely
            parts.append(
                spark.read.parquet(os.path.join(table, rec["cdc"]))
                .withColumn("_commit_version", F.lit(v).cast("long"))
            )
            continue

        if rec["action"] == "restore":
            # a restore's row-level effect is the SNAPSHOT diff: the
            # generic file diff below applies the PRIOR version's
            # deletion vectors to re-added files, which would hide
            # exactly the rows the restore un-deleted. Cost is two
            # snapshot reads — restore is a rare administrative
            # action, and the diff still cancels all untouched rows.
            before = read_snapshot(spark, table, v - 1)
            after = read_snapshot(spark, table, v)
            if table_column_mapping(table) is not None:
                # a restore can cross a rename: snapshots serve their
                # own versions' LOGICAL names — diff in the stable
                # PHYSICAL space instead (final select serves `hi`'s)
                cmb = table_column_mapping(table, v - 1)
                cma = table_column_mapping(table, v)
                before = _to_physical_df(before, dict(cmb[0]) if cmb else None)
                after = _to_physical_df(after, dict(cma[0]) if cma else None)
            types = dict(after.dtypes)
            aligned = before.select(
                *[
                    F.col(c) if c in before.columns
                    else F.lit(None).cast(types[c]).alias(c)
                    for c in after.columns
                ]
            )
            parts.append(
                after.exceptAll(aligned)
                .withColumn("_change_type", F.lit("insert"))
                .withColumn("_commit_version", F.lit(v).cast("long"))
            )
            parts.append(
                aligned.exceptAll(after)
                .withColumn("_change_type", F.lit("delete"))
                .withColumn("_commit_version", F.lit(v).cast("long"))
            )
            continue

        if rec["action"] == "delete_mor":
            # the newly-vectored rows ARE the deletes — read just the
            # referenced files, keep just the vectored positions. The
            # partition fast path may additionally DROP whole all-match
            # files (removed, no vector): their still-live rows are
            # deletes too, minus positions vectored before this commit.
            dv = rec.get("dv", {})
            dropped = rec.get("removed", [])
            if dropped:
                prior = snapshot_dvs(table, v - 1) if v > 1 else {}
                dset = set(dropped)
                whole = _apply_dvs(
                    reader.parquet(
                        *[os.path.join(table, f) for f in sorted(dropped)]
                    ),
                    table,
                    {f: p for f, p in prior.items() if f in dset},
                )
                parts.append(
                    whole.withColumn("_change_type", F.lit("delete"))
                    .withColumn("_commit_version", F.lit(v).cast("long"))
                )
            if not dv:
                continue
            tagged = reader.parquet(
                *[os.path.join(table, f) for f in sorted(dv)]
            ).withColumn("__rel", _rel_expr(table)).withColumn(
                "__pos", F.col("_metadata.row_index")
            )
            sel = _dv_frame(spark, dv)
            cols = [c for c in tagged.columns if c not in ("__rel", "__pos")]
            parts.append(
                tagged.join(F.broadcast(sel), ["__rel", "__pos"])
                .select(*cols)
                .withColumn("_change_type", F.lit("delete"))
                .withColumn("_commit_version", F.lit(v).cast("long"))
            )
            continue

        prior_dvs = snapshot_dvs(table, v - 1) if v > 1 else {}

        def _rows(rels):
            if not rels:
                return None
            df = reader.parquet(
                *[os.path.join(table, f) for f in rels]
            )
            rel_set = set(rels)
            return _apply_dvs(
                df, table,
                {f: p for f, p in prior_dvs.items() if f in rel_set},
            )

        added = _rows(rec["added"])
        removed = _rows(rec["removed"])
        if added is not None:
            ins = added if removed is None else added.exceptAll(
                removed.select(*added.columns)
            )
            parts.append(
                ins.withColumn("_change_type", F.lit("insert"))
                .withColumn("_commit_version", F.lit(v).cast("long"))
            )
        if removed is not None:
            del_ = removed if added is None else removed.exceptAll(
                added.select(*removed.columns)
            )
            parts.append(
                del_.withColumn("_change_type", F.lit("delete"))
                .withColumn("_commit_version", F.lit(v).cast("long"))
            )
    if not parts:
        schema = _schema_at(table, hi)
        if schema is None:
            raise ValueError(f"no changes and no schema in ({from_version}, {hi}]")
        empty = empty_frame(spark, schema)
        return empty.withColumn("_change_type", F.lit("")).withColumn(
            "_commit_version", F.lit(0).cast("long")
        )
    out = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
    cm_hi = table_column_mapping(table, hi)
    if cm_hi:
        # a mapped table's per-commit parts are PHYSICAL (stable across
        # renames); serve the whole feed under hi's LOGICAL names —
        # Delta CDF's end-version-schema rule. Physical columns whose
        # logical was dropped by hi are not served; columns added after
        # a part's commit null-fill.
        sch = _schema_at(table, hi)
        extra = [c for c in ("_change_type", "_commit_version")
                 if c in out.columns]
        cols = [
            (
                F.col(cm_hi[0].get(f.name, f.name)).alias(f.name)
                if cm_hi[0].get(f.name, f.name) in out.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
            )
            for f in sch.fields
        ]
        out = out.select(*cols, *extra)
    return out


def tx_merge_upsert(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    keys: list[str],
    stats_cols: list[str] | None = None,
    meta: dict | None = None,
    write_cdc: bool = False,
) -> tuple[int, int]:
    """Transactional MERGE (SCD-1 upsert): ``MERGE INTO table USING
    source ON keys WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED
    THEN INSERT *`` as one atomic commit — a preset of
    :func:`tx_merge`, which owns the rewrite, the identity and
    row-tracking contracts, the CDC encoding and the retry loop.

    A source column omitted from the upsert keeps the target's value
    on matched rows (``SET *`` semantics) and fills like an append on
    inserts.

    Isolation note (Delta's WriteSerializable): a concurrent APPEND
    that lands the same key commutes at the file level — the merge
    cannot see it, and the table may then hold both rows. Route
    key-overlapping writers through merge, not append, when key
    uniqueness matters.

    Returns (new_version, files_rewritten).
    """
    return tx_merge(
        spark, table, source, keys,
        matched=[{"cond": None, "action": "update", "set": None}],
        not_matched=[{"cond": None, "values": None}],
        stats_cols=stats_cols, meta=meta, write_cdc=write_cdc,
    )


def tx_merge(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    keys: list[str],
    matched: list[dict] | None = None,
    not_matched: list[dict] | None = None,
    not_matched_by_source: list[dict] | None = None,
    stats_cols: list[str] | None = None,
    meta: dict | None = None,
    write_cdc: bool = False,
) -> tuple[int, int]:
    """Transactional MERGE — Delta's full clause model; the plain
    ``UPDATE SET * / INSERT *`` upsert (:func:`tx_merge_upsert`) is a
    preset of it:

        MERGE INTO t USING s ON <keys>
          WHEN MATCHED [AND cond] THEN UPDATE SET c = expr, ...
          WHEN MATCHED [AND cond] THEN DELETE
          WHEN NOT MATCHED [AND cond] THEN INSERT (cols) VALUES (exprs)
          WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET ... |
            DELETE

    ``matched``: ordered clauses ``{"cond": sql|None, "action":
    "update"|"delete", "set": {col: sql}|None}`` (``set=None`` =
    ``SET *``: every same-named target column takes the source's).
    ``not_matched``: ordered ``{"cond": sql|None, "values":
    {col: sql}|None}`` (``values=None`` = ``INSERT *``).
    ``not_matched_by_source``: ordered clauses with the ``matched``
    shape, applied to TARGET rows whose key has no source row
    (Delta 2.3's sync idiom: delete/flag everything the source no
    longer carries); their conditions and SET expressions may
    reference the target only (``s.*`` is all-NULL there by
    construction). Conditions and expressions reference the target as
    ``t.`` and the source as ``s.`` (Delta's alias model; the SQL
    door rewrites user aliases).

    Semantics (Delta's): clauses evaluate IN ORDER per row, first
    satisfied one applies; a matched row satisfying none survives
    verbatim; a source row satisfying no NOT MATCHED clause is
    dropped. The source is deduplicated on ``keys`` first (one
    surviving row per key; callers needing last-write-wins pre-reduce
    by timestamp). Unspecified INSERT columns fill
    like an append: DEFAULTs apply, omitted identity generates
    (fresh watermark per attempt), GENERATED columns compute, CHECK
    constraints validate — and updated images re-compute their
    GENERATED columns and re-validate constraints too. ``SET`` may
    not target an identity or generated column (Delta rejects both),
    and under ``SET *`` a source-supplied generated value must equal
    its expression.

    Scope note: NOT MATCHED BY SOURCE widens the rewrite beyond
    source-hit files — by definition it predicates over rows the
    source does NOT touch. The candidate set is still pruned: only
    files containing at least one row satisfying the OR of the
    clauses' conditions join the rewrite (an unconditional clause is
    a whole-table sync and reads everything, exactly as in Delta).

    Scale shape: only files CONTAINING a source key are read or
    rewritten (removed = hit files; their non-matched rows survive
    verbatim); everything else is untouched metadata, so a merge
    conflicts with any interleaved rewrite of the same files while
    appends commute. The clause engine is one joined projection over
    the hit rows.

    ``write_cdc``: stage the change set (update pre/post images,
    'delete' pre-images, 'insert' rows) as a sidecar riding the
    commit, making the merge streamable by ``readChangeFeed``.

    Row tracking: updated rows keep the target row's ``_row_id`` with
    ``__row_commit`` re-stamped to this commit; untouched survivors
    carry both verbatim; inserts mint fresh ids.

    Returns (new_version, files_rewritten).
    """
    from pyspark.sql import functions as F

    matched = list(matched or [])
    not_matched = list(not_matched or [])
    nmbs = list(not_matched_by_source or [])
    if not matched and not not_matched and not nmbs:
        raise ValueError("MERGE needs at least one WHEN clause")
    for cl in matched + nmbs:
        if cl["action"] not in ("update", "delete"):
            raise ValueError(f"bad matched action {cl['action']!r}")
    keys = list(keys)
    # One materialization of the deduped source (r14, guide §5): it
    # feeds FOUR jobs (hit-file discovery, the clause join, the
    # matched-key anti-join, insert staging) — without the pin each
    # job re-runs the caller's source plan, and dropDuplicates'
    # nondeterministic tie-break could even select DIFFERENT rows per
    # job (Delta materializes merge sources for the same reason).
    # Local checkpoint = non-replayable blocks; see SCALE.md §12.
    source = source.dropDuplicates(keys).localCheckpoint(eager=False)
    src_cols = list(source.columns)
    ids_map = table_identity(table)
    gmap = table_generated_columns(table)
    for cl in matched + nmbs:
        for c in (cl.get("set") or {}):
            if c in ids_map:
                raise ValueError(
                    f"MERGE may not SET identity column {c!r}"
                )
            if c in gmap:
                raise ValueError(
                    f"MERGE may not SET generated column {c!r} "
                    f"(it computes as {gmap[c]!r})"
                )
    if gmap and any(
        cl["action"] == "update" and cl.get("set") is None for cl in matched
    ):
        # SET * lands the source's columns verbatim, so a supplied
        # GENERATED value must equal its expression (the append law)
        # instead of being silently recomputed on the updated image
        _apply_generated(source, table)
    supplied_always = sorted(
        c for c in ids_map
        if ids_map[c]["always"] and (
            c in src_cols and any(
                cl.get("values") is None for cl in not_matched
            )
            or any(c in (cl.get("values") or {}) for cl in not_matched)
        )
    )
    if supplied_always:
        raise ValueError(
            f"MERGE INSERT supplies GENERATED ALWAYS AS IDENTITY "
            f"column(s) {supplied_always}; omit them"
        )

    def _cond(cl) -> "F.Column":
        # NULL-safe (3VL): an unsatisfied-because-NULL condition must
        # read as FALSE — without the coalesce a NULL poisons the
        # running `picked` accumulator (False | NULL = NULL) and
        # silently blocks LATER clauses from selecting the row
        c = cl.get("cond")
        if not c:
            return F.lit(True)
        return F.coalesce(F.expr(c), F.lit(False))

    def attempt():  # fresh snapshot, re-find affected files
        parent, files = snapshot_files(table)
        schema = table_schema(table)
        if schema is None and files:
            raise FileNotFoundError(f"no schema committed under {table}")
        schema_json = schema.json() if schema is not None else None
        tgt_cols = (
            [f.name for f in schema.fields] if schema is not None
            else src_cols
        )
        rt = table_row_tracking(table)
        reader = _data_reader(spark, table, schema, row_ids=rt)
        dvs = snapshot_dvs(table)
        hit_rels: list[str] = []
        if files:
            df = _tagged_scan(reader, table, files, dvs)
            src_keys = source.select(*keys).distinct()
            hits = set(
                r["__rel"]
                for r in df.join(src_keys, keys, "leftsemi")
                .select("__rel").distinct().collect()
            )
            if nmbs:
                # NOT MATCHED BY SOURCE candidates: files containing
                # at least one row satisfying the OR of the clauses'
                # conditions (an unconditional clause = whole table,
                # Delta's sync semantics). Conditions reference t.*
                # only; the superset is conservative — the exact
                # no-source-match test happens after the join.
                if any(cl.get("cond") is None for cl in nmbs):
                    hits |= set(files)
                else:
                    pred = None
                    for cl in nmbs:
                        e = F.coalesce(F.expr(cl["cond"]), F.lit(False))
                        pred = e if pred is None else (pred | e)
                    hits |= set(
                        r["__rel"]
                        for r in df.alias("t").filter(pred)
                        .select("__rel").distinct().collect()
                    )
            hit_rels = sorted(hits)
        added, pv = [], {}
        cdc_parts = []
        if hit_rels:
            # the hit-file scan feeds BOTH the survivor rewrite and
            # the matched-key derivation below; one materialization
            # replaces the second full scan (r14, guide §5)
            tgt = _materialize_row_ids(
                _tagged_scan(reader, table, hit_rels, dvs), table
            ).drop("__rel", "__pos").localCheckpoint(eager=False)
            id_cols = [c for c in (_ROW_ID_COL, _ROW_COMMIT_COL)
                       if c in tgt.columns]
            saug = source.withColumn("__merge_src_match", F.lit(True))
            jc = None
            for k in keys:
                e = F.col(f"t.{k}") == F.col(f"s.{k}")
                jc = e if jc is None else (jc & e)
            j = tgt.alias("t").join(saug.alias("s"), jc, "left_outer")
            is_m = F.col("s.__merge_src_match").isNotNull()
            # first satisfied clause index (Delta: in declaration order)
            sel = F.lit(None).cast("int")
            picked = F.lit(False)
            for i, cl in enumerate(matched):
                hit = is_m & ~picked & _cond(cl)
                sel = F.when(hit, F.lit(i)).otherwise(sel)
                picked = picked | hit
            j = j.withColumn("__m_sel", sel)
            # NOT MATCHED BY SOURCE: same first-satisfied selection,
            # over the rows the join left source-NULL
            nsel = F.lit(None).cast("int")
            npicked = F.lit(False)
            for i, cl in enumerate(nmbs):
                hit = ~is_m & ~npicked & _cond(cl)
                nsel = F.when(hit, F.lit(i)).otherwise(nsel)
                npicked = npicked | hit
            j = j.withColumn("__n_sel", nsel)
            del_idx = [i for i, cl in enumerate(matched)
                       if cl["action"] == "delete"]
            upd_idx = [i for i, cl in enumerate(matched)
                       if cl["action"] == "update"]
            n_del_idx = [i for i, cl in enumerate(nmbs)
                         if cl["action"] == "delete"]
            n_upd_idx = [i for i, cl in enumerate(nmbs)
                         if cl["action"] == "update"]
            # NULL-safe: __m_sel is NULL on hit-file rows with no
            # source match (and matched rows satisfying no clause) —
            # isin(NULL) is NULL and filter(~NULL) would silently DROP
            # those survivors
            is_del = (
                F.coalesce(F.col("__m_sel").isin(del_idx), F.lit(False))
                if del_idx else F.lit(False)
            )
            is_upd = (
                F.coalesce(F.col("__m_sel").isin(upd_idx), F.lit(False))
                if upd_idx else F.lit(False)
            )
            if n_del_idx:
                is_del = is_del | F.coalesce(
                    F.col("__n_sel").isin(n_del_idx), F.lit(False)
                )
            if n_upd_idx:
                is_upd = is_upd | F.coalesce(
                    F.col("__n_sel").isin(n_upd_idx), F.lit(False)
                )

            def _img(c: str) -> "F.Column":
                out = F.col(f"t.{c}")
                for i in upd_idx:
                    st = matched[i].get("set")
                    if st is None:  # SET *
                        if c in src_cols:
                            out = F.when(
                                F.col("__m_sel") == i, F.col(f"s.{c}")
                            ).otherwise(out)
                    elif c in st:
                        out = F.when(
                            F.col("__m_sel") == i, F.expr(st[c])
                        ).otherwise(out)
                for i in n_upd_idx:
                    st = nmbs[i].get("set") or {}
                    if c in st:
                        out = F.when(
                            F.col("__n_sel") == i, F.expr(st[c])
                        ).otherwise(out)
                return out

            img_cols = [_img(c).alias(c) for c in tgt_cols]
            if rt:
                img_cols.append(F.col(f"t.{_ROW_ID_COL}").alias(_ROW_ID_COL))
                # updated rows re-stamp __row_commit from THIS commit's
                # base map on read (NULL = re-stamp); untouched rows
                # keep their materialized value
                img_cols.append(
                    F.when(
                        is_upd, F.lit(None).cast("long")
                    ).otherwise(
                        F.col(f"t.{_ROW_COMMIT_COL}")
                    ).alias(_ROW_COMMIT_COL)
                )
            survivors = j.filter(~is_del).select(*img_cols)
            if (upd_idx or n_upd_idx) and gmap:
                # updated images re-compute generated columns from the
                # new values (Delta recomputes on update); deterministic
                # expressions make this a no-op on untouched rows
                survivors, _ = _apply_generated(
                    survivors.drop(*[c for c in gmap]), table
                )
                survivors = survivors.select(
                    *(tgt_cols + (id_cols if rt else []))
                )
            if upd_idx or n_upd_idx:
                _enforce_constraints(survivors, table)
            if write_cdc:
                pre_cols = [F.col(f"t.{c}").alias(c) for c in tgt_cols]
                cdc_parts.append(
                    j.filter(is_del).select(*pre_cols)
                    .withColumn("_change_type", F.lit("delete"))
                )
                cdc_parts.append(
                    j.filter(is_upd).select(*pre_cols)
                    .withColumn("_change_type", F.lit("update_preimage"))
                )
                cdc_parts.append(
                    j.filter(is_upd).select(
                        *[_img(c).alias(c) for c in tgt_cols]
                    ).withColumn(
                        "_change_type", F.lit("update_postimage")
                    )
                )
            # stage unconditionally (r14): _stage/_stage_partitioned
            # drop empty part files and return [] for an empty frame,
            # so the old limit(1).count() guard only re-ran the whole
            # join pipeline once more before staging ran it again —
            # two measured guard jobs per merge, pure waste (guide §1)
            a, p = _stage_for(survivors, table)
            added += a
            pv.update(p or {})
            matched_keys = (
                tgt.join(src_keys, keys, "left_semi")
                .select(*keys).distinct()
            )
            ins_src = source.join(matched_keys, keys, "left_anti")
        else:
            ins_src = source
        # ---- NOT MATCHED: clause-select on the source alone ----
        eff_meta = meta  # e.g. a streaming txn identity rides verbatim
        idents, ident_wm, ident_assigned = ids_map, {}, []
        eff_stats = stats_cols
        ins_df = None
        if not_matched:
            s = ins_src.alias("s")
            sel = F.lit(None).cast("int")
            picked = F.lit(False)
            for i, cl in enumerate(not_matched):
                hit = ~picked & _cond(cl)
                sel = F.when(hit, F.lit(i)).otherwise(sel)
                picked = picked | hit
            s = s.withColumn("__nm_sel", sel).filter(
                F.col("__nm_sel").isNotNull()
            )
            defaults = table_column_defaults(table)
            explicit: set[str] = set()
            for cl in not_matched:
                explicit |= set(
                    src_cols if cl.get("values") is None
                    else cl["values"]
                )
            out_cols = []
            types = (
                {f.name: f.dataType for f in schema.fields}
                if schema is not None else {}
            )
            for c in tgt_cols:
                if c in explicit:
                    # untyped NULL seed when the table has no schema
                    # yet: a string-typed seed would coerce the whole
                    # clause chain to string
                    e = (
                        F.lit(None).cast(types[c]) if c in types
                        else F.lit(None)
                    )
                    for i, cl in enumerate(not_matched):
                        vals = cl.get("values")
                        if vals is None:
                            if c in src_cols:
                                e = F.when(
                                    F.col("__nm_sel") == i, F.col(f"s.{c}")
                                ).otherwise(e)
                        elif c in vals:
                            e = F.when(
                                F.col("__nm_sel") == i, F.expr(vals[c])
                            ).otherwise(e)
                    out_cols.append(
                        (e.cast(types[c]) if c in types else e).alias(c)
                    )
                elif c in ids_map or c in gmap or c in defaults:
                    continue  # omitted: the append laws fill it
                else:
                    out_cols.append(
                        F.lit(None).cast(types.get(c, "string")).alias(c)
                    )
            ins_img = s.select(*out_cols)
            # the append laws complete the insert side: DEFAULTs,
            # identity (fresh watermark THIS attempt), generated,
            # constraints, strict schema. r14: stage directly — the
            # old limit(1).count() guard evaluated the anti-join
            # pipeline once more than staging needed (guide §1); an
            # empty insert stages no files, and ins_df reverts to
            # None below so the empty-table schema contract and the
            # CDC insert part behave exactly as before.
            ins_df, eff_stats, idents, ident_wm, ident_assigned = (
                _complete_append_laws(ins_img, table, stats_cols)
            )
            ins_df = ins_df.select(*tgt_cols)
            a, p = _stage_for(ins_df, table)
            if a:
                added += a
                pv.update(p or {})
            else:
                ins_df = None
                eff_stats, ident_assigned = stats_cols, []
        stats = (
            collect_file_stats(table, added, eff_stats)
            if eff_stats and added else None
        )
        if ident_assigned and added:
            eff_meta = {
                **(meta or {}),
                **_ident_meta(
                    table, idents, ident_assigned, stats, ident_wm
                ),
            }
        cdc = None
        if write_cdc:
            if ins_df is not None:
                cdc_parts.append(
                    ins_df.withColumn("_change_type", F.lit("insert"))
                )
            if cdc_parts:
                all_cdc = cdc_parts[0]
                for part in cdc_parts[1:]:
                    all_cdc = all_cdc.unionByName(part)
                cdc = _stage_cdc(all_cdc, table)
        v = commit(
            table, "merge", added, hit_rels, parent,
            schema_json=schema_json or (
                ins_df.schema.json() if ins_df is not None else None
            ),
            stats=stats, meta=eff_meta, cdc=cdc, pv=pv or None,
        )
        return v, len(hit_rels)

    return _retry(table, "merge", attempt)


def tx_compact(
    spark: SparkSession,
    table: str,
    num_files: int | None = 1,
    stats_cols: list[str] | None = None,
    zorder_by: list[str] | None = None,
    sort_by: list[str] | None = None,
    ascending: bool = True,
    partition_filter: dict | None = None,
    target_file_bytes: int = 128 << 20,
) -> tuple[int, int]:
    """Bin-pack the current snapshot into ``num_files`` files. Removes
    every live file, so it conflicts with any interleaved delete (and
    retries), while interleaved appends commute and stay live.

    ``zorder_by``: cluster the rewrite on the z-curve of these columns
    (``lake.z_cluster``) instead of arbitrary coalescing — combined
    with ``stats_cols`` this is transactional multi-dimensional data
    skipping: the OPTIMIZE-ZORDER of a real lakehouse, as one atomic
    commit. With ``zorder_by`` the rewrite always runs (re-clustering
    the same file count is useful work, unlike a no-op bin-pack).

    ``sort_by``: TOTALLY ORDER the rewrite instead — range-partition
    on the sort key (sampled split points, Spark's own global-orderBy
    mechanism) and sort within each partition, so every row of file i
    sorts <= every row of file i+1. Stats for ``sort_by[0]`` ride the
    commit automatically, making the table its own sorted export:
    :func:`tx_sorted_file_order` recovers the global order from the
    log alone, versioned and ACID. Mutually exclusive with
    ``zorder_by``.

    ``partition_filter``: Delta's ``OPTIMIZE ... WHERE`` — scope the
    rewrite to the files PROVABLY pure on the requested partitions
    (recorded partitionValues match on every filter column; unrecorded
    or mixed-declaration files are left alone, strictly-scoped by
    design). At 100 TB this is the only OPTIMIZE anyone runs: compact
    yesterday's partition, never the table. The untouched partitions'
    files stay live byte-for-byte.

    ``num_files=None`` derives the output count from the SELECTED
    bytes / ``target_file_bytes`` (the same sizing rule as
    :func:`tx_optimize`) — the scale-safe default for any caller that
    doesn't know the table size: a fixed small count on a 100 TB
    table would bin-pack into unsplittable multi-TB files and defeat
    the skipping a z-order exists to serve. Sizing is one
    ``os.path.getsize`` per selected file, driver-side.

    Returns (new_version, files_replaced).
    """
    if zorder_by and sort_by:
        raise ValueError("zorder_by and sort_by are mutually exclusive")
    if zorder_by is None and not sort_by:
        # declared clustering is the table's standing OPTIMIZE order
        declared = table_cluster_by(table)
        if declared:
            zorder_by = declared
    if zorder_by:
        stats_cols = sorted(set(stats_cols or []) | set(zorder_by))
    if sort_by:
        stats_cols = sorted(set(stats_cols or []) | {sort_by[0]})

    def attempt():
        parent, files = snapshot_files(table)
        if partition_filter:
            declared = set(table_partition_by(table))
            unknown = sorted(set(partition_filter) - declared)
            if unknown:
                raise ValueError(
                    f"partition_filter column(s) {unknown} are not "
                    f"partition columns of {table} "
                    f"(declared: {sorted(declared) or 'none'})"
                )
            pv = snapshot_pv(table)
            want = {
                c: {
                    _pv_str(x)
                    for x in (
                        v if isinstance(v, (list, tuple, set)) else [v]
                    )
                }
                for c, v in partition_filter.items()
            }
            files = [
                f
                for f in files
                if f in pv
                and all(
                    c in pv[f] and pv[f][c] in w for c, w in want.items()
                )
            ]
            if not files:
                return parent, 0
        eff_num = num_files
        if eff_num is None:
            total = sum(
                os.path.getsize(os.path.join(table, f)) for f in files
            )
            eff_num = max(1, -(-total // target_file_bytes))  # ceil
        if len(files) <= eff_num and not zorder_by and not sort_by:
            return parent, 0
        # RECORDED schema, not footer inference: a mixed-schema live set
        # (post merge_schema evolution) inferred from one footer would
        # rewrite the table WITHOUT the evolved columns — and compact
        # removes the old files, making the loss permanent.
        schema = table_schema(table)
        schema_json = schema.json() if schema is not None else None
        # row tracking: the bin-pack carries every row's materialized
        # id and commit version — compaction is pure layout, a row's
        # identity and "last modified" commit must not change
        live_df = _live_rows(spark, table, schema, files, snapshot_dvs(table))
        if zorder_by:
            from .lake import z_cluster

            packed = z_cluster(live_df, zorder_by, num_files=eff_num)
        elif sort_by:
            from pyspark.sql import functions as F

            keys = [
                F.col(c).asc() if ascending else F.col(c).desc()
                for c in sort_by
            ]
            packed = live_df.repartitionByRange(
                eff_num, *keys
            ).sortWithinPartitions(*keys)
        else:
            packed = live_df.coalesce(eff_num)
        if zorder_by or sort_by:
            # these layouts ORDER files by the clustering key — routing
            # them through partition-pure staging would break the
            # sorted-export file-order contract; their outputs carry no
            # partition values (pruned reads still scan them, exactly)
            added, pv = _stage(packed, table), None
        else:
            added, pv = _stage_for(packed, table)
        stats = (
            collect_file_stats(table, added, stats_cols) if stats_cols else None
        )
        v = commit(
            table, "compact", added, files, parent,
            schema_json=schema_json, stats=stats, pv=pv or None,
        )
        return v, len(files)

    return _retry(table, "compact", attempt)


def tx_reorg_purge(
    spark: SparkSession,
    table: str,
    target_file_bytes: int = 128 << 20,
) -> tuple[int, int]:
    """Delta's ``REORG TABLE ... APPLY (PURGE)``: materialize the
    soft-deletes by rewriting ONLY the files that carry deletion
    vectors — each hit file's survivors land in fresh files and the
    vector is dropped (a removed file's DV entry falls out of the
    snapshot replay automatically). Files without vectors stay live
    byte-for-byte, so the cost is O(DV debt), never O(table): on a
    100 TB table where merge-on-read deletes vectored 0.1% of files,
    PURGE rewrites that 0.1% and nothing else — which is why it is a
    separate verb from OPTIMIZE (whole-scope rewrite) at all. The GDPR
    erasure chain is PURGE -> :func:`tx_expire_versions` ->
    :func:`tx_vacuum`: the DV only hides the row, the purge writes a
    version without it, expiry drops the versions still referencing
    the old file, and vacuum removes its bytes (vacuum alone keeps
    them — retained history stays time-travelable).

    Skipping parity: the rewrite re-collects min/max stats for every
    column that had recorded stats on any hit file (plus the declared
    clustering columns), so a purged file is exactly as skippable as
    the file it replaces. Outputs honor the declared partitioning via
    the value-pure staging path (pruning never degrades), and row
    tracking carries materialized ids — purge is pure layout, a
    surviving row's identity and "last modified" commit don't change.

    Concurrency (all enforced by :func:`commit`'s existing rules, no
    new machinery): a racing rewrite of a hit file is a remove-remove
    conflict; a racing merge-on-read delete vectoring a hit file is
    the dv-vs-removed conflict (our survivor set was computed without
    its deletes and would resurrect them) — both retry from a fresh
    snapshot. Appends and writes to unvectored files commute.

    Returns (new_version, files_purged); (parent, 0) when no file
    carries a vector. Reference parity: the reference engine has no
    soft deletes at all (`/root/reference/src/main.cpp` rewrites CSVs
    whole); this is the lakehouse-native completion of its DELETE.
    """

    def attempt():  # fresh snapshot: new vectors / rewritten files
        parent, files = snapshot_files(table)
        dvs = snapshot_dvs(table)
        live = set(files)
        hit = sorted(f for f, pos in dvs.items() if pos and f in live)
        if not hit:
            return parent, 0
        schema = table_schema(table)
        schema_json = schema.json() if schema is not None else None
        # stats parity: whatever was skippable before stays skippable
        prior = snapshot_stats(table)
        stat_cols = sorted(
            {c for f in hit for c in prior.get(f, {}).get("c", {})}
            | set(table_cluster_by(table))
        )
        live_df = _live_rows(spark, table, schema, hit, dvs)
        # output sizing from the HIT bytes (upper bound on survivors)
        total = sum(os.path.getsize(os.path.join(table, f)) for f in hit)
        eff = max(1, -(-total // target_file_bytes))  # ceil
        added, pv = _stage_for(live_df.coalesce(eff), table)
        stats = (
            collect_file_stats(table, added, stat_cols)
            if stat_cols and added else None
        )
        v = commit(
            table, "reorg_purge", added, hit, parent,
            schema_json=schema_json, stats=stats, pv=pv or None,
        )
        return v, len(hit)

    return _retry(table, "reorg-purge", attempt)


def tx_repartition_table(
    spark: SparkSession,
    table: str,
    partition_by: list[str],
    stats_cols: list[str] | None = None,
) -> tuple[int, int]:
    """PARTITION EVOLUTION (eager): atomically re-lay the current
    snapshot VALUE-PURE on a NEW set of partition columns and record
    the new declaration — one commit carries removed = every live
    file, added = the value-pure rewrite with its partitionValues,
    and the updated ``partition_by``. Content never changes (a
    compact-class rewrite), so streams and the change feed skip the
    commit without reading a byte, exactly like ``compact``.

    This is the operation Hive-style layouts cannot express (their
    partitioning is baked into paths) and Iceberg solves lazily; here
    the values live in the LOG, so evolution is just a rewrite that
    records new metadata — readers are layout-oblivious before,
    during, and after. Conflicts like compact: an interleaved
    delete/merge that rewrote the same files forces a retry from the
    fresh snapshot, while appends commute (a racing append staged
    under the OLD declaration stays live with its old recorded
    values — filtered reads simply cannot prune it on the new
    columns until the next maintenance rewrite, conservative and
    exact). Returns (new_version, files_replaced)."""
    if not partition_by:
        raise ValueError(
            "partition_by must be non-empty (partition evolution "
            "declares a NEW layout; use tx_compact for plain bin-packing)"
        )

    def attempt():
        parent, files = snapshot_files(table)
        if not files:
            raise FileNotFoundError(
                f"no live files under {table}; declare partitioning on "
                "the first append instead (tx_append(partition_by=...))"
            )
        schema = table_schema(table)
        if schema is not None:
            missing = [
                c for c in partition_by if c not in schema.fieldNames()
            ]
            if missing:
                raise ValueError(
                    f"partition column(s) {missing} not in table schema"
                )
        schema_json = schema.json() if schema is not None else None
        live_df = _live_rows(spark, table, schema, files, snapshot_dvs(table))
        added, pv = _stage_partitioned(live_df, table, list(partition_by))
        stats = (
            collect_file_stats(table, added, stats_cols)
            if stats_cols else None
        )
        v = commit(
            table, "repartition", added, files, parent,
            schema_json=schema_json, stats=stats, pv=pv,
            partition_by=list(partition_by),
        )
        return v, len(files)

    return _retry(table, "repartition", attempt)


def tx_sorted_file_order(
    table: str,
    col: str,
    version: int | None = None,
    ascending: bool = True,
) -> list[str]:
    """Consume-side of ``tx_compact(sort_by=...)``: the live files in
    global sort order, recovered from the COMMIT LOG's per-file stats
    (no manifest sidecar, no data read — the log is the manifest).
    Raises if any file lacks stats for ``col``, carries deletion
    vectors (the recorded extrema may be deleted), or if two files'
    [min, max] ranges interleave — any of which would mean reading in
    file order is NOT the sorted stream and a merge would be required.

    At 100 TB this is how a sorted export actually ships: no single
    writer ever holds the whole order; consumers stream file-by-file
    in the order this returns."""
    v, files = snapshot_files(table, version)
    stats = snapshot_stats(table, v)
    dvs = snapshot_dvs(table, v)
    rows = []
    for f in files:
        if f in dvs:
            raise ValueError(
                f"{f} carries deletion vectors; compact first — its "
                "recorded extrema may be deleted rows"
            )
        c = stats.get(f, {}).get("c", {}).get(col)
        if c is None:
            raise ValueError(
                f"{f} has no {col} stats; re-run tx_compact(sort_by=...)"
            )
        rows.append((f, c[0], c[1]))
    rows.sort(key=lambda r: (r[1], r[2]), reverse=not ascending)
    for prev, cur in zip(rows, rows[1:]):
        a, b = (prev[2], cur[1]) if ascending else (cur[2], prev[1])
        if a > b:
            raise ValueError(
                f"files interleave on {col}: {prev[0]} "
                f"[{prev[1]}, {prev[2]}] vs {cur[0]} [{cur[1]}, {cur[2]}]"
            )
    return [r[0] for r in rows]


def _stage_cdc(df, table: str) -> str:
    """Write a commit's row-level change set as ONE immutable sidecar
    parquet under ``_sidecars/`` (columns: the commit-time table
    columns + ``_change_type``) and return its relpath. This is
    Delta's change-data-file design: the writer already has the
    changed rows in hand, so persisting them costs one extra write of
    O(changed rows) — and it converts the change feed for this commit
    from an except-all diff over the rewritten files into a plain scan
    of the sidecar, which also makes the commit STREAMABLE
    (``txlog_ds`` readChangeFeed)."""
    # change sets carry PHYSICAL column names like data files do (the
    # feed's final select translates back to the serve-version names);
    # _change_type is reserved and never mapped
    return _write_sidecar(
        _to_physical_df(df, _effective_mapping(table)), table, "cdc"
    )


def tx_optimize(
    spark: SparkSession,
    table: str,
    target_file_bytes: int = 128 << 20,
    min_files: int = 2,
    stats_cols: list[str] | None = None,
    partition_filter: dict | None = None,
) -> tuple[int, int]:
    """INCREMENTAL compaction (Delta's OPTIMIZE bin-packing, not the
    full-table rewrite): select only the live files smaller than
    ``target_file_bytes`` — plus any file carrying deletion vectors,
    whose deletes this rewrite materializes — bin-pack them into
    ~target-sized files, and commit the swap atomically. Files already
    at target size are NEVER rewritten.

    This is the compaction that actually runs at 100 TB: a streaming
    sink committing every few seconds leaves a long tail of small
    files, and rewriting the whole table to fix them
    (``tx_compact``) costs O(table) — this costs O(small files),
    so it can run continuously behind the ingest. Cost intuition:
    selection is one ``os.path.getsize`` per live file
    (file-list-bounded, driver-side, no data read); the rewrite reads
    only the selected bytes.

    Conflict semantics are the standard rewrite rules (``removed`` =
    the selected files): a racing delete/compact of the same files
    conflicts and this retries from a fresh snapshot; racing appends
    commute. Returns (version, files_replaced) — (current, 0) when
    fewer than ``min_files`` qualify and no vectors need folding.

    ``partition_filter``: Delta's ``OPTIMIZE ... WHERE`` on the
    incremental path — only files PROVABLY pure on the requested
    partitions are candidates (same strict scoping as
    ``tx_compact(partition_filter=)``). This is the compaction a
    streaming ingest actually runs continuously: bin-pack TODAY's
    partition's small-file tail without ever touching the rest.

    A declared ``CLUSTER BY`` is the table's standing OPTIMIZE order
    here too (same default as ``tx_compact``): the bin-packed output
    is z-clustered on the declared columns and their stats ride the
    commit — otherwise the continuous compaction behind a streaming
    ingest would gradually strip both the clustered layout and the
    skipping stats from the very tail it rewrites. Cost is a sort of
    ONLY the selected small files' rows, not the table.
    """
    cluster_by = table_cluster_by(table)
    eff_stats_cols = stats_cols
    if cluster_by:
        eff_stats_cols = sorted(set(stats_cols or []) | set(cluster_by))

    def attempt():
        parent, files = snapshot_files(table)
        if partition_filter:
            declared = set(table_partition_by(table))
            unknown = sorted(set(partition_filter) - declared)
            if unknown:
                raise ValueError(
                    f"partition_filter column(s) {unknown} are not "
                    f"partition columns of {table} "
                    f"(declared: {sorted(declared) or 'none'})"
                )
            pv = snapshot_pv(table)
            want = {
                c: {
                    _pv_str(x)
                    for x in (
                        v if isinstance(v, (list, tuple, set)) else [v]
                    )
                }
                for c, v in partition_filter.items()
            }
            files = [
                f
                for f in files
                if f in pv
                and all(
                    c in pv[f] and pv[f][c] in w for c, w in want.items()
                )
            ]
        dvs = snapshot_dvs(table)
        small = [
            f
            for f in files
            if f in dvs
            or os.path.getsize(os.path.join(table, f)) < target_file_bytes
        ]
        if len(small) < min_files and not any(f in dvs for f in small):
            return parent, 0
        total = sum(os.path.getsize(os.path.join(table, f)) for f in small)
        n_out = max(1, -(-total // target_file_bytes))  # ceil
        schema = table_schema(table)
        schema_json = schema.json() if schema is not None else None
        small_set = set(small)
        live_df = _live_rows(
            spark, table, schema, small,
            {f: p for f, p in dvs.items() if f in small_set},
        )
        if cluster_by:
            from .lake import z_cluster

            packed = z_cluster(live_df, cluster_by, num_files=int(n_out))
        else:
            packed = live_df.coalesce(int(n_out))
        added, pv = _stage_for(packed, table)
        stats = (
            collect_file_stats(table, added, eff_stats_cols)
            if eff_stats_cols else None
        )
        v = commit(
            table, "compact", added, small, parent,
            schema_json=schema_json, stats=stats, pv=pv or None,
        )
        return v, len(small)

    return _retry(table, "optimize", attempt)


def tx_restore(
    table: str, to_version: int | None = None,
    timestamp: float | None = None,
) -> int:
    """RESTORE the table to an earlier version as one NEW commit
    (Delta's RESTORE semantics): history is never rewritten — the
    restore itself is versioned, auditable, and re-restorable.

    A pure metadata operation: no data file is read or written. The
    commit re-adds the target snapshot's files that are no longer
    live, removes files added since, and — for files live in BOTH
    snapshots whose deletion vectors drifted — resets the vectors
    exactly by listing the file as removed+re-added with the target's
    vector (the replay rules make remove-then-add an exact reset —
    for stats, partition values, Bloom and distinct-bitmap pointers
    too, so the restored snapshot skips and prunes like the original
    did). Table-level metadata restores with the data: the target
    schema, its declared partitioning (undoing a later
    tx_repartition_table), and its CHECK-constraint map (undoing later
    ADD/DROP CONSTRAINT) are re-recorded whenever they drifted.

    Concurrency: the ``removed`` set is everything this commit
    un-does, so the usual overlap rules apply — a restore racing a
    delete/compact conflicts (one of them re-runs), while a racing
    append commutes and its rows survive the restore, exactly as if
    it had landed just after. :func:`tx_vacuum` keeps every
    commit-referenced file, so the target's files still exist unless
    the log itself was truncated (checked; raises FileNotFoundError).

    ``timestamp``: Delta's ``RESTORE ... TO TIMESTAMP AS OF`` —
    resolved to the version live at that instant via in-commit
    timestamps, then identical.
    """
    if timestamp is not None:
        if to_version is not None:
            raise ValueError("pass to_version OR timestamp, not both")
        to_version = version_at_timestamp(table, timestamp)
    if to_version is None:
        raise ValueError("tx_restore needs to_version or timestamp")
    versions = log_versions(table)
    if to_version not in versions:
        raise ValueError(
            f"version {to_version} not in log (have {versions[:3]}..{versions[-1:]})"
        )
    cur_v = versions[-1]
    if to_version == cur_v:
        return cur_v
    # both snapshots' replayed states, in their recorded form
    tgt, cur = _replay(table, to_version), _replay(table, cur_v)
    cur_dvs, tgt_dvs = cur["dvs"], tgt["dvs"]
    cur_set, tgt_set = set(cur["live"]), set(tgt["live"])
    added = sorted(tgt_set - cur_set)
    removed = sorted(cur_set - tgt_set)
    for f in sorted(cur_set & tgt_set):
        if sorted(cur_dvs.get(f, [])) != sorted(tgt_dvs.get(f, [])):
            removed.append(f)
            added.append(f)
    missing = [
        f for f in added if not os.path.exists(os.path.join(table, f))
    ]
    if missing:
        raise FileNotFoundError(
            f"cannot restore {table} to v{to_version}: data files gone "
            f"(log truncated?): {missing[:4]}"
        )
    # re-record skipping metadata for every (re-)added file — the
    # remove-side of the replay drops it, the commit's own entries
    # put the target version's back
    stats = {f: tgt["stats"][f] for f in added if f in tgt["stats"]} or None
    dv = {f: tgt_dvs[f] for f in added if tgt_dvs.get(f)} or None
    pv = {f: tgt["pv"][f] for f in added if f in tgt["pv"]} or None
    # row tracking: re-added files get the TARGET's base row ids back
    # (the replay's remove side dropped them), so restored rows keep
    # the exact identities they had — a restore is not a rewrite
    tgt_base = tgt["base_row_id"]
    rt_base = {f: tgt_base[f] for f in added if f in tgt_base}
    sidecars: dict = {"blooms": {}, "distincts": {}}
    for plane, out in sidecars.items():
        for c, m in tgt[plane].items():
            by_sidecar: dict = {}
            for f in added:
                if f in m:
                    by_sidecar.setdefault(m[f], []).append(f)
            if by_sidecar:
                out[c] = [
                    {"sidecar": sc, "files": sorted(fs)}
                    for sc, fs in sorted(by_sidecar.items())
                ]
    schema = _schema_at(table, to_version)
    # table-level metadata restores with the data (Delta's RESTORE
    # covers the full table state): the target's declared partitioning
    # (an explicit [] undoes a later partition evolution) and CHECK
    # constraint map (full-map commits are newest-wins, so re-recording
    # the target's map exactly undoes later ADD/DROP CONSTRAINT) — but
    # only when they actually drifted, so an unrelated restore does not
    # spuriously conflict with interleaved data commits through the
    # constraints-vs-added conflict class.
    tgt_pb, cur_pb = tgt["partition_by"], cur["partition_by"]
    tgt_cons, cur_cons = tgt["constraints"], cur["constraints"]
    # restore also undoes later RENAME/DROP COLUMN: re-record the
    # target's mapping when it drifted (retired stays CUMULATIVE
    # across the restore — a physical name once used never re-mints)
    meta: dict = {"restore_of": to_version}
    tgt_cm = table_column_mapping(table, to_version)
    cur_cm = table_column_mapping(table, cur_v)
    if tgt_cm != cur_cm and (tgt_cm or cur_cm):
        names = [f.name for f in schema.fields] if schema else []
        meta["column_mapping"] = (
            dict(tgt_cm[0]) if tgt_cm else {c: c for c in names}
        )
        retired = list(cur_cm[1]) if cur_cm else []
        meta["retired_physical"] = retired
    # the remaining table-level metadata planes restore the same way:
    # newest-wins full-map commits, re-recorded only when drifted
    for key in (
        "column_defaults", "generated_columns", "cluster_by",
        "identity_columns",
    ):
        if tgt[key] != cur[key]:
            meta[key] = tgt[key]
    # the identity WATERMARK is the one plane that does NOT restore
    # backward: ranges handed out since the target version were
    # promised-unique forever (values may live in clones, exports,
    # downstream systems) — the merged watermark keeps the furthest
    # of both snapshots per column, Delta's monotone rule
    # row-tracking planes: the enable flag restores like any other
    # metadata; the ROW-ID watermark is monotone like the identity
    # one (assigned ranges stay assigned — re-issuing them would let
    # two different rows ever share an id)
    if tgt["row_tracking"] != cur["row_tracking"]:
        meta["row_tracking"] = tgt["row_tracking"]
    if rt_base:
        meta["base_row_id"] = rt_base
    # (no row_id_watermark re-record: newest-wins already resolves to
    # the current value, which is >= the target's by monotonicity)
    tgt_wm, cur_wm = tgt["identity_watermark"], cur["identity_watermark"]
    if tgt_wm != cur_wm:
        specs = {**cur["identity_columns"], **tgt["identity_columns"]}
        merged = dict(tgt_wm)
        for c, w in cur_wm.items():
            if c not in merged:
                merged[c] = w
            else:
                step = int(specs.get(c, {}).get("step", 1))
                merged[c] = (
                    max(merged[c], w) if step > 0 else min(merged[c], w)
                )
        meta["identity_watermark"] = merged
    return commit(
        table,
        "restore",
        added,
        removed,
        cur_v,
        schema_json=schema.json() if schema is not None else None,
        meta=meta,
        stats=stats,
        dv=dv,
        pv=pv,
        bloom=sidecars["blooms"] or None,
        distinct=sidecars["distincts"] or None,
        partition_by=tgt_pb if tgt_pb != cur_pb else None,
        constraints=tgt_cons if tgt_cons != cur_cons else None,
    )


def tx_clone(
    src: str,
    dst: str,
    version: int | None = None,
    timestamp: float | None = None,
) -> int:
    """ZERO-COPY table clone (Delta's shallow CLONE, hardened): the
    destination's first commit references the source snapshot's
    immutable data files through HARD LINKS — O(files) metadata ops,
    no bytes copied — carrying the snapshot's schema, per-file stats,
    partition values, deletion vectors, declared partitioning, and
    CHECK constraints. Unlike a path-referencing shallow clone, the
    links pin the inodes, so vacuuming or expiring the SOURCE can
    never break the clone, and the two tables' histories are fully
    independent from version 1.

    Bloom/distinct sidecars do not carry over (their rows name the
    source's file paths); cloned files read as uncovered — always
    correct, rebuildable with the usual backfill. Falls back to a file
    copy when src and dst sit on different filesystems.

    Returns the clone's first version (1)."""
    import shutil

    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        version = version_at_timestamp(src, timestamp)
    v, files = snapshot_files(src, version)
    stats = _snapshot_stats_raw(src, v)
    dvs = snapshot_dvs(src, v)
    pv = _snapshot_pv_raw(src, v)
    schema = _schema_at(src, v)
    if log_versions(dst):
        raise ValueError(f"clone destination {dst} already has commits")
    _init_table(dst)
    tag = uuid.uuid4().hex[:12]
    rel_map: dict[str, str] = {}
    for i, f in enumerate(files):
        rel = f"{DATA}/{tag}-p{i}.parquet"
        sp, dp = os.path.join(src, f), os.path.join(dst, rel)
        try:
            os.link(sp, dp)
        except OSError:  # cross-device: pay the copy for this file
            shutil.copy2(sp, dp)
        rel_map[f] = rel
    return commit(
        dst,
        "clone",
        sorted(rel_map.values()),
        [],
        0,
        schema_json=schema.json() if schema is not None else None,
        stats={rel_map[f]: s for f, s in stats.items() if f in rel_map},
        dv={rel_map[f]: p for f, p in dvs.items() if f in rel_map} or None,
        pv={rel_map[f]: s for f, s in pv.items() if f in rel_map} or None,
        partition_by=table_partition_by(src, v) or None,
        constraints=table_constraints(src, v) or None,
        meta={
            "cloned_from": os.path.abspath(src),
            "source_version": v,
            # every table-level metadata plane travels with the clone
            **{
                k: val
                for k, val in (
                    ("column_defaults", table_column_defaults(src, v)),
                    ("generated_columns", table_generated_columns(src, v)),
                    ("cluster_by", table_cluster_by(src, v)),
                    ("identity_columns", table_identity(src, v)),
                    ("identity_watermark", identity_watermark(src, v)),
                    # COPY INTO history travels too: a copy on the
                    # clone must not re-load files the source already
                    # ingested (their rows are in the linked data)
                    ("copy_into_sources",
                     sorted(copy_into_sources(src, v))),
                )
                if val
            },
            # row tracking travels with the clone: the linked files'
            # rows keep the SOURCE's ids (re-keyed to the clone's file
            # names), and the clone's generator resumes beyond them
            **(
                {
                    "row_tracking": True,
                    "row_id_watermark": row_id_watermark(src, v),
                    # ids carry VERBATIM (stability is the feature);
                    # the commit-version half re-stamps to 1 for
                    # base-derived rows. Files the source REWROTE carry
                    # materialized __row_commit values that win on
                    # read, so their rows serve SOURCE-history version
                    # numbers — read them as "modified no later than
                    # the clone", not as clone versions (the zero-copy
                    # trade; Delta's alternative is dropping row
                    # tracking from clones entirely, losing the ids)
                    "base_row_id": {
                        rel_map[f]: [b[0], 1]
                        for f, b in snapshot_base_row_ids(src, v).items()
                        if f in rel_map
                    },
                }
                if table_row_tracking(src, v)
                else {}
            ),
            # the clone's files carry the source's PHYSICAL names, so
            # the mapping travels with them (retired too: a re-added
            # name in the clone must keep minting fresh)
            **(
                {
                    "column_mapping": dict(cm[0]),
                    "retired_physical": list(cm[1]),
                }
                if (cm := table_column_mapping(src, v))
                else {}
            ),
        },
    )


def tx_convert_parquet_dir(
    spark: SparkSession,
    src_dir: str,
    table: str,
    stats_cols: list[str] | None = None,
    merge_schema: bool = False,
    partition_by: list[str] | None = None,
    copy: bool = False,
) -> int:
    """CONVERT an existing plain-parquet directory into a
    transactional table (Delta's ``CONVERT TO DELTA``) WITHOUT copying
    bytes: every data file hardlinks into the table's ``data/`` and
    the first commit references them — converting a 100 TB directory
    is O(files) metadata ops plus (optionally) one footer read per
    file for riding stats. The links pin the inodes, so the source
    directory can be DELETED afterwards without stranding the table —
    but because the table shares inodes with the source, an IN-PLACE
    MODIFICATION of a source file afterwards silently mutates
    committed snapshot data. The source must be treated as immutable
    after conversion (delete-safe, not rewrite-safe); pass
    ``copy=True`` to pay one byte-copy per file and sever the inode
    sharing when the source directory will keep being written.

    Schema contract: by default every file's parquet schema must match
    the first file's EXACTLY (names and Arrow types) — a silently
    mixed directory is how converted tables corrupt; pass
    ``merge_schema=True`` to accept additive drift (the recorded
    schema is Spark's unioned footer schema and narrower files
    null-fill on read, same rule as evolved appends).

    ``partition_by`` declares the table partitioning AT conversion and
    derives each file's partitionValues from its FOOTER STATS: a file
    whose min == max for every partition column (no nulls) is provably
    value-pure and records those values — converted tables prune from
    day one with zero data reads. Files that are not provably pure (or
    hold nulls in a partition column) convert UNRECORDED: reads stay
    exact through the must-read rule, they just aren't prunable until
    the next maintenance rewrite re-lays them. The columns must live
    IN the files (this engine's layout-oblivious model); a Hive-style
    directory whose files lack the partition columns cannot convert
    zero-copy — rewrite it through tx_append(partition_by=) instead.

    The converted table is a first-class citizen from version 1:
    appends, rewrites, constraints, partitioning declarations, time
    travel, and the DataSource faces all apply."""
    import glob as _glob
    import shutil

    import pyarrow.parquet as pq

    if log_versions(table):
        raise ValueError(
            f"convert destination {table} already has commits; "
            "tx_append into it instead"
        )
    files = sorted(
        f
        for f in _glob.glob(os.path.join(src_dir, "**", "*.parquet"),
                            recursive=True)
        if os.path.isfile(f)
    )
    if not files:
        raise FileNotFoundError(f"no parquet files under {src_dir}")
    first = pq.read_schema(files[0])
    if not merge_schema:
        for f in files[1:]:
            sch = pq.read_schema(f)
            if sch != first:  # pyarrow == ignores metadata
                raise ValueError(
                    f"schema drift inside {src_dir}: {f} differs from "
                    f"{files[0]}; pass merge_schema=True to union "
                    "additively"
                )
    reader = (
        spark.read.option("mergeSchema", True) if merge_schema
        else spark.read
    )
    # explicit file list, not the directory: nested layouts (per-batch
    # subdirs) would otherwise defeat schema inference
    schema = reader.parquet(*files).schema
    if partition_by:
        missing = [c for c in partition_by if c not in schema.fieldNames()]
        if missing:
            raise ValueError(
                f"partition column(s) {missing} not in the files' schema "
                "(this engine keeps partition columns IN the data files; "
                "a Hive-style layout needs a rewrite via "
                "tx_append(partition_by=) instead)"
            )

    def _pure_values(md) -> dict | None:
        """{col: value-string} when the file is PROVABLY value-pure on
        every partition column (footer min == max, no nulls in the
        column); None otherwise (convert unrecorded, must-read)."""
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        vals: dict = {}
        for c in partition_by:
            if c not in idx:
                return None
            mn = mx = None
            for r in range(md.num_row_groups):
                st = md.row_group(r).column(idx[c]).statistics
                if st is None or not st.has_min_max or (st.null_count or 0):
                    return None
                lo, hi = st.min, st.max
                mn = lo if mn is None or lo < mn else mn
                mx = hi if mx is None or hi > mx else mx
            if mn != mx:
                return None
            v = mn.decode("utf-8") if isinstance(mn, bytes) else mn
            vals[c] = _pv_str(v)
        return vals

    _init_table(table)
    tag = uuid.uuid4().hex[:12]
    added: list[str] = []
    pv: dict = {}
    for i, f in enumerate(files):
        md = pq.ParquetFile(f).metadata
        if md.num_rows == 0:
            continue  # like _stage: empty part files never go live
        rel = f"{DATA}/{tag}-p{i}.parquet"
        if copy:
            shutil.copy2(f, os.path.join(table, rel))
        else:
            try:
                os.link(f, os.path.join(table, rel))
            except OSError:  # cross-device: pay the copy for this file
                shutil.copy2(f, os.path.join(table, rel))
        added.append(rel)
        if partition_by:
            vals = _pure_values(md)
            if vals is not None:
                pv[rel] = vals
    if not added:
        raise ValueError(f"every parquet file under {src_dir} is empty")
    stats = (
        collect_file_stats(table, added, stats_cols) if stats_cols else None
    )
    return commit(
        table, "convert", added, [], 0,
        schema_json=schema.json(), stats=stats,
        pv=pv or None,
        partition_by=list(partition_by) if partition_by else None,
        meta={"converted_from": os.path.abspath(src_dir)},
    )


def tx_vacuum(
    table: str, retention_seconds: float = 86400.0, dry_run: bool = False
) -> list[str]:
    """Reclaim orphans: staged directories, data files, and Bloom
    sidecars never referenced by ANY commit still in the log (crashed
    writers, conflicted/retried commits). Files referenced by old
    versions are kept — time travel stays valid; truncating history
    itself is :func:`tx_expire_versions`.

    After an expiration, the expired commits' ``added`` lists are
    gone, so the reference set also folds in the OLDEST surviving
    checkpoint's live-file set and bloom pointers — a file live at the
    horizon stays protected even though the commit that added it was
    expired.

    Retention guard (Delta's VACUUM retention, default 24 h): only
    files OLDER than ``retention_seconds`` are reclaimed. This is what
    makes vacuum safe to run alongside live writers — :func:`_stage`
    renames files into ``data/`` BEFORE the commit lands, so a
    freshly-staged file is indistinguishable from a crashed writer's
    orphan until its commit publishes. An unguarded vacuum racing an
    in-flight writer would delete its staged files and the subsequent
    commit would reference files that no longer exist. The same guard
    covers sidecars, which also land on disk before their commit. Pass
    a smaller window only when no writer can be active within it.

    ``dry_run`` (Delta's ``VACUUM ... DRY RUN``): report exactly what
    a real run would reclaim, touching nothing — the operator's
    pre-flight check before dropping the retention window."""
    import shutil
    import time

    cutoff = time.time() - retention_seconds
    versions = log_versions(table)
    referenced: set[str] = set()
    sidecars_ref: set[str] = set()
    for v in versions:
        rec = read_commit(table, v)
        referenced |= set(rec["added"])
        for key in ("bloom", "distinct"):
            for entries in rec.get(key, {}).values():
                for e in entries:
                    sidecars_ref.add(e["sidecar"])
        if rec.get("cdc"):
            sidecars_ref.add(rec["cdc"])
    for v in versions:  # oldest checkpoint = the retention horizon
        if os.path.exists(_ckpt_path(table, v)):
            with open(_ckpt_path(table, v)) as fh:
                ck = json.load(fh)
            referenced |= set(ck.get("live", []))
            for key in ("blooms", "distincts"):
                for m in ck.get(key, {}).values():
                    sidecars_ref |= set(m.values())
            break
    removed = []
    data_dir = os.path.join(table, DATA)
    if os.path.isdir(data_dir):
        for f in os.listdir(data_dir):
            rel = f"{DATA}/{f}"
            p = os.path.join(data_dir, f)
            if rel not in referenced and os.path.getmtime(p) <= cutoff:
                if not dry_run:
                    os.remove(p)
                removed.append(rel)
    staging = os.path.join(table, STAGING)
    if os.path.isdir(staging):
        for d in os.listdir(staging):
            p = os.path.join(staging, d)
            if os.path.getmtime(p) <= cutoff:
                if not dry_run:
                    shutil.rmtree(p, ignore_errors=True)
                removed.append(f"{STAGING}/{d}")
    side_dir = os.path.join(table, SIDECARS)
    if os.path.isdir(side_dir):
        for f in os.listdir(side_dir):
            rel = f"{SIDECARS}/{f}"
            p = os.path.join(side_dir, f)
            if rel in sidecars_ref or os.path.getmtime(p) > cutoff:
                continue
            if not dry_run:
                if os.path.isdir(p):  # crashed bloom-sidecar tmp dir
                    shutil.rmtree(p, ignore_errors=True)
                else:
                    os.remove(p)
            removed.append(rel)
    return removed


def tx_overwrite(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    overwrite_schema: bool = False,
    stats_cols: list[str] | None = None,
) -> tuple[int, int]:
    """INSERT OVERWRITE (whole table): atomically replace EVERY live
    row with ``df`` — one commit removes the full live set and adds
    the staged replacement, so readers flip between complete
    snapshots. The append laws apply to the new data (defaults,
    identity, generated, constraints, declared partitioning +
    clustering stats). The schema must match the table's unless
    ``overwrite_schema=True`` (Delta's overwriteSchema: the commit
    re-records the replacement's schema; time travel still serves old
    versions under their own schema). Returns
    (new_version, files_replaced)."""
    if overwrite_schema:
        _enforce_constraints(df, table)

    def attempt():  # interleaved writer: re-list the live set
        if overwrite_schema:
            new_df = df
            schema_json = df.schema.json()
            eff_stats, ident_assigned = stats_cols, []
            idents, ident_wm = {}, {}
        else:
            # append laws re-plan PER ATTEMPT (fresh identity
            # watermark; mirrors tx_replace_where/tx_copy_into) so a
            # racing generator's reservation is never recorded over
            new_df, eff_stats, idents, ident_wm, ident_assigned = (
                _complete_append_laws(df, table, stats_cols)
            )
            cur = table_schema(table)
            schema_json = (
                cur.json() if cur is not None else new_df.schema.json()
            )
        parent, files = snapshot_files(table)
        added, pv = _stage_for(new_df, table)
        stats = (
            collect_file_stats(table, added, eff_stats)
            if eff_stats and added else None
        )
        meta = None
        if not overwrite_schema and ident_assigned and added:
            meta = _ident_meta(
                table, idents, ident_assigned, stats, ident_wm
            )
        # read_predicate='true': the overwrite's read-set is the
        # WHOLE live file list — an interleaved add must conflict,
        # or its rows would survive a "replace every row" commit
        # (the retry re-lists files, sweeping the racer's in)
        v = commit(
            table, "overwrite", added, files, parent,
            schema_json=schema_json, stats=stats, pv=pv or None,
            meta=meta, read_predicate="true",
        )
        return v, len(files)

    return _retry(table, "overwrite", attempt)


def tx_drop_table(table: str) -> int:
    """DROP TABLE: remove the table's directory — data files, the
    transaction log, sidecars, staging — in one irreversible local
    operation (Delta's managed-table DROP: metadata AND data go).
    Refuses anything that isn't a lake table (no ``_txlog/``), so a
    mistyped path can never delete arbitrary directories. Returns the
    number of live files that were dropped with it.

    Scale note: this is O(files) unlink calls on a local lake; an
    object-store deployment would instead tombstone the log head and
    let lifecycle policies reap the data — the SQL surface is the
    same either way."""
    if not os.path.isdir(os.path.join(table, TXLOG)):
        raise FileNotFoundError(f"not a lake table (no {TXLOG}): {table}")
    n = len(snapshot_files(table)[1])
    import shutil

    shutil.rmtree(table)
    return n


def tx_rename_table(table: str, new_table: str) -> None:
    """ALTER TABLE ... RENAME TO: one atomic ``os.rename`` of the
    table directory. Everything a table IS — data files, the commit
    log, checkpoints, deletion vectors, sidecars — lives inside that
    directory and is path-relative, so the move carries full history,
    time travel, and stats untouched; there is no per-file work and
    no log rewrite, O(1) regardless of table size. Refuses non-lake
    sources and existing targets.

    Caveat (documented, not hidden): rename is a CATALOG operation,
    not a transactional one — the log can order commits within a
    table, not moves of the table itself. Run it with no concurrent
    writer on the old path; a writer mid-commit would land files in a
    directory that no longer exists and fail loudly (never silently
    corrupt — the staged-then-rename commit protocol can't publish
    into the moved log). Delta path-tables cannot be renamed at all;
    its managed tables rename in the metastore under an exclusive
    metastore lock — the same "no concurrent writer" contract.
    """
    if not os.path.isdir(os.path.join(table, TXLOG)):
        raise FileNotFoundError(f"not a lake table (no {TXLOG}): {table}")
    if os.path.exists(new_table):
        raise ValueError(f"rename target already exists: {new_table}")
    os.rename(table, new_table)


def tx_truncate(table: str) -> tuple[int, int]:
    """TRUNCATE TABLE: drop every live file from the log as ONE
    metadata-only commit — no file is read or written, so truncating
    a 100 TB table costs O(files) driver metadata. History is intact
    (time travel and RESTORE still reach the pre-truncate snapshots;
    vacuum + expiration reclaim the bytes on the normal schedule),
    and the change feed streams the drop as whole-file deletes.
    Returns (new_version, files_dropped)."""

    def attempt():  # an interleaved rewrite: re-list and retry
        parent, files = snapshot_files(table)
        if not files:
            return parent, 0
        v = commit(table, "truncate", [], files, parent)
        return v, len(files)

    return _retry(table, "truncate", attempt)


def tx_show_create_table(table: str) -> str:
    """SHOW CREATE TABLE: reconstruct the DDL + ALTER statements that
    would recreate this table's declared metadata — schema, CLUSTER
    BY, partitioning, CHECK constraints, column DEFAULTs, GENERATED
    columns, identity declarations, and row tracking — from the log
    alone. The operational "what is this table?" answer, and a
    migration artifact (the statements run through tx_sql)."""
    schema = table_schema(table)
    if schema is None:
        raise FileNotFoundError(f"no schema committed under {table}")
    name = os.path.basename(table.rstrip("/"))
    cols = ",\n  ".join(
        f"{f.name} {f.dataType.simpleString().upper()}"
        for f in schema.fields
    )
    out = [f"CREATE TABLE {name} (\n  {cols}\n)"]
    cb = table_cluster_by(table)
    if cb:
        out[0] += f" CLUSTER BY ({', '.join(cb)})"
    pb = table_partition_by(table)
    if pb:
        out.append(
            f"-- partitioned by ({', '.join(pb)}) "
            "(declared by the first partitioned append)"
        )
    for c, expr in sorted(table_column_defaults(table).items()):
        out.append(
            f"ALTER TABLE {name} ALTER COLUMN {c} SET DEFAULT {expr}"
        )
    for c, expr in sorted(table_generated_columns(table).items()):
        out.append(f"-- {c} GENERATED ALWAYS AS ({expr})")
    for c, spec in sorted(table_identity(table).items()):
        kind = "ALWAYS" if spec["always"] else "BY DEFAULT"
        out.append(
            f"ALTER TABLE {name} ALTER COLUMN {c} SET GENERATED {kind} "
            f"AS IDENTITY (START WITH {spec['start']} "
            f"INCREMENT BY {spec['step']})"
        )
    for n, pred in sorted(table_constraints(table).items()):
        out.append(f"ALTER TABLE {name} ADD CONSTRAINT {n} CHECK ({pred})")
    if table_row_tracking(table):
        out.append(
            f"ALTER TABLE {name} SET TBLPROPERTIES "
            "('delta.enableRowTracking'='true')"
        )
    return ";\n".join(out)


def tx_fsck(
    table: str, dry_run: bool = False
) -> list[str]:
    """Delta's ``FSCK REPAIR TABLE``: drop the log's references to
    live data files that no longer exist on disk (an external actor
    deleted them — storage incident, fat-fingered rm, a foreign
    retention job). Reads fail loudly until repaired; after the repair
    commit the table serves the surviving rows again, and the commit
    is ordinary history (auditable, time-travel-able, CDC-visible as
    deletes of the lost rows' references).

    ``dry_run`` reports the missing files without committing. Pure
    metadata: one os.path.exists per live file, never a data read.
    Returns the missing relpaths."""

    def attempt():  # an interleaved rewrite touched them: re-scan
        parent, files = snapshot_files(table)
        missing = [
            f for f in files
            if not os.path.exists(os.path.join(table, f))
        ]
        if dry_run or not missing:
            return missing
        commit(table, "fsck", [], missing, parent)
        return missing

    return _retry(table, "fsck", attempt)


def tx_generate_manifest(table: str, version: int | None = None) -> str:
    """Delta's ``GENERATE symlink_format_manifest``: publish the
    current (or pinned) snapshot's live parquet paths as plain-text
    manifest files under ``_symlink_format_manifest/`` — the interop
    handshake engines like Presto/Trino/Athena read to query the
    table WITHOUT understanding the commit log. Partitioned tables
    get one manifest per recorded partition-value combination
    (``col=value/manifest``), mirroring the Hive layout those engines
    expect; files with unrecorded values land in the root manifest.

    Generation is O(live files) metadata and atomic per manifest
    (tmp + rename); re-running replaces the whole directory, so a
    stale manifest never mixes with a fresh one. The manifest is a
    CONSUMER artifact: nothing in this engine reads it back."""
    import shutil

    v, files = snapshot_files(table, version)
    pv = snapshot_pv(table, v)
    root = os.path.join(table, "_symlink_format_manifest")
    tmp = root + f".tmp-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp, exist_ok=True)
    groups: dict = {}
    for f in files:
        vals = pv.get(f) or {}
        key = "/".join(
            f"{c}={vals[c]}" for c in sorted(vals)
        )
        groups.setdefault(key, []).append(f)
    for key, rels in groups.items():
        d = os.path.join(tmp, key) if key else tmp
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "manifest"), "w") as fh:
            for r in sorted(rels):
                fh.write(os.path.abspath(os.path.join(table, r)) + "\n")
    if os.path.isdir(root):
        shutil.rmtree(root)
    os.replace(tmp, root)
    return root


def tx_analyze(
    table: str,
    cols: list[str] | None = None,
) -> tuple[int, int]:
    """ANALYZE TABLE ... COMPUTE STATISTICS: retro-fit data-skipping
    stats onto live files that LACK them for the requested columns.
    Files written without ``stats_cols`` (early loads, conversions of
    plain parquet dirs, foreign writers) read as "must scan" forever;
    this recovers their min/max from the parquet FOOTERS — one footer
    read per back-filled file, NO data scan, because the original
    write already paid for row-group statistics — and publishes them
    as one metadata-only commit (no file added or removed, zero data
    movement). Afterwards the table skips as if every write had
    declared the columns up front.

    ``cols=None`` analyzes every top-level column of the recorded
    schema (Delta's ``FOR ALL COLUMNS``). Files that already carry
    stats for ALL requested columns are left alone, so re-running is
    a cheap no-op — (head, 0) without committing. Column names are
    LOGICAL; physical translation follows the committed-metadata
    contract (:func:`collect_file_stats`).

    Concurrency: stats attach to files by name, and the snapshot
    replay drops a file's stats the moment any commit removes it — a
    racing rewrite simply discards the backfill for the files it
    replaced (its own stats win for the replacements), so the commit
    needs no read-set and never conflicts with writers.

    Returns (version, files_backfilled).
    """
    schema = table_schema(table)
    if cols is None:
        if schema is None:
            raise ValueError(f"{table} has no recorded schema")
        cols = [f.name for f in schema.fields]

    def attempt():
        parent, files = snapshot_files(table)
        have = snapshot_stats(table)  # LOGICAL keys, like `cols`
        todo = [
            f for f in files
            if not all(c in have.get(f, {}).get("c", {}) for c in cols)
        ]
        if not todo:
            return parent, 0
        # replay REPLACES a file's stats record wholesale (newest
        # wins), so the backfill must carry the previously recorded
        # columns forward or it would un-skip them (both PHYSICAL)
        prior = _snapshot_stats_raw(table)
        # footer reads are independent I/O — pool them (a backfill's
        # scope is the table's whole stat-less set, not one commit's
        # file count like the write path; serial reads would make the
        # driver the bottleneck on a large backlog). Mapping resolved
        # once, not per file.
        from concurrent.futures import ThreadPoolExecutor

        eff_map = _effective_mapping(table) or {}
        with ThreadPoolExecutor(max_workers=min(32, len(todo))) as ex:
            parts = list(ex.map(
                lambda f: collect_file_stats(
                    table, [f], cols, mapping=eff_map
                ),
                todo,
            ))
        fresh = {f: s for p in parts for f, s in p.items()}
        # a footer can yield nothing for a column (all-null file,
        # suppressed row-group stats): re-running must not recommit
        # the unchanged record forever — only files that actually
        # GAIN a column land in the commit
        stats = {
            f: {
                "n": s["n"],
                "c": {**prior.get(f, {}).get("c", {}), **s["c"]},
            }
            for f, s in fresh.items()
            if set(s["c"]) - set(prior.get(f, {}).get("c", {}))
        }
        if not stats:
            return parent, 0
        todo = sorted(stats)
        v = commit(table, "analyze", [], [], parent, stats=stats)
        return v, len(todo)

    return _retry(table, "analyze", attempt)


def tx_expire_versions(table: str, keep_from: int) -> list[int]:
    """Truncate log history below ``keep_from`` (Delta's
    ``logRetentionDuration`` re-expressed as an explicit horizon): a
    checkpoint is written AT the horizon first, so every surviving
    version stays resolvable by checkpoint-plus-tail replay, then the
    older commit and checkpoint records are deleted. Returns the
    expired versions.

    What this costs you: time travel and :func:`tx_changes` reads
    below the horizon now raise (their commit records are gone) — run
    :func:`tx_vacuum` afterwards to reclaim the data files only those
    versions referenced. Idempotence marks survive (per-app high-water
    batch ids fold through the checkpoint — :func:`txn_seen`), as do
    stats, deletion vectors, bloom pointers, and the schema.

    At 100 TB scale this is what keeps the log O(active history)
    instead of O(table lifetime): a trickle of streaming commits every
    few seconds writes ~10 M records a year, and every snapshot replay
    walks the tail since the last checkpoint — bounding the prefix
    bounds recovery, listing, and vacuum's reference scan alike."""
    versions = log_versions(table)
    if not versions:
        return []
    if keep_from not in versions:
        raise ValueError(
            f"keep_from={keep_from} is not a committed version of "
            f"{table} (have {versions[0]}..{versions[-1]})"
        )
    expired = [v for v in versions if v < keep_from]
    if not expired:
        return []
    if not os.path.exists(_ckpt_path(table, keep_from)):
        _write_checkpoint(table, keep_from)
    for v in expired:
        try:
            os.remove(_commit_path(table, v))
        except FileNotFoundError:
            pass
        try:
            os.remove(_ckpt_path(table, v))
        except FileNotFoundError:
            pass
    return expired
