"""Lake-layout sinks: partitioned and bucketed parquet — the physical
design that makes the 100 TB case work.

The reference materializes every result as a flat CSV
(/root/reference/src/headers/table.cpp:252-307); at scale the sink IS
the optimization surface:

- ``write_partitioned``: hive-style directory partitioning. Filters on
  the partition column become directory pruning (PartitionFilters in
  the scan) — a query touching one day of a year-partitioned table
  reads ~0.3% of the files.
- ``write_bucketed_table``: pre-shuffle the table into N buckets by
  join key at WRITE time. Two tables bucketed the same way join with
  NO exchange on either side — the shuffle is paid once per table
  lifetime instead of once per query. This is the Spark-native
  equivalent of co-located storage in MPP warehouses.

Both compose: partition by a time column, bucket by the join key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame, path: str, partition_by: list[str], fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    df.write.partitionBy(*partition_by).format(fmt).mode(mode).save(path)


def overwrite_partitions(
    df: DataFrame, path: str, partition_by: list[str], fmt: str = "parquet"
) -> None:
    """Dynamic partition overwrite: replace ONLY the hive partitions
    present in ``df``, leaving all other partitions of the table
    untouched.

    This is the idempotent daily-backfill primitive: re-running a day's
    job rewrites that day's directory atomically-per-partition instead
    of (a) clobbering the whole table (static overwrite) or (b)
    duplicating rows (append). Requires
    ``spark.sql.sources.partitionOverwriteMode=dynamic``, set here at
    write scope via the DataFrameWriter option so the session default
    stays untouched.
    """
    (
        df.write.format(fmt)
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .save(path)
    )


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_by: str,
    num_buckets: int,
    path: str,
    sort_by: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed catalog table (bucketing metadata
    lives in the catalog, so this is saveAsTable, not save)."""
    w = df.write.mode(mode).option("path", path).bucketBy(num_buckets, bucket_by)
    if sort_by:
        w = w.sortBy(sort_by)
    w.saveAsTable(name)


def read_partitioned(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    return spark.read.format(fmt).load(path)


def compact_small_files(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_mb: int = 128,
    fmt: str = "parquet",
) -> int:
    """Lake maintenance: rewrite a directory of small files into
    ~``target_file_mb``-sized files. Small-file sprawl is the classic
    decay mode of a streaming/append table — every scan pays per-file
    open/footer costs and the driver pays per-file listing; nightly
    compaction restores scan throughput.

    Sizing uses the actual on-disk bytes (driver-side listing, no data
    read); ``coalesce`` avoids a shuffle — partitions are merged, not
    redistributed. Writes to ``dst`` (atomic swap is the caller's move:
    write + rename), returns the output file count.
    """
    import glob as _glob
    import math
    import os

    total = sum(
        os.path.getsize(p)
        for p in _glob.glob(os.path.join(src, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith(("_", "."))
    )
    n_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    df = spark.read.format(fmt).load(src)
    df.coalesce(n_files).write.format(fmt).mode("overwrite").save(dst)
    return n_files


def z_value(col_x, col_y, bits: int = 16):
    """Morton (Z-order) interleave of two non-negative integer columns.

    Each input is masked to ``bits`` low bits, then bit-interleaved
    (x in even positions, y in odd) into one long. Rows close in BOTH
    dimensions land close on the z-curve, so sorting by z_value
    clusters parquet row-groups in two dimensions at once — min/max
    stats then prune scans filtered on EITHER column. Pure bit
    arithmetic: deterministic, engine-portable, codegen-friendly.
    """
    return z_value_n([col_x, col_y], bits=bits)


def z_value_n(cols: list, bits: int = 16):
    """Morton (Z-order) interleave of N non-negative integer columns:
    column j's bit i lands at output position ``i*N + j``. With
    ``cols=[x, y]`` this is exactly the classic 2-D code (x even
    positions, y odd). Total output bits = N*bits and must fit a
    signed long, so pass a smaller ``bits`` for higher dimensions
    (63 // N is the ceiling; 4 dims x 15 bits is typical)."""
    from pyspark.sql import functions as F

    n = len(cols)
    if n < 1:
        raise ValueError("z_value_n needs at least one column")
    if n * bits > 63:
        raise ValueError(
            f"{n} dims x {bits} bits = {n * bits} output bits > 63; "
            f"use bits <= {63 // n}"
        )
    mask = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        x = c.cast("long").bitwiseAND(F.lit(mask))
        for i in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), i * n + j)
            )
    return z


def z_order_write(
    df: DataFrame,
    path: str,
    col_x: str,
    col_y: str,
    bits: int = 16,
    num_files: int | None = None,
    fmt: str = "parquet",
) -> None:
    """Rewrite a table clustered on the z-curve of two columns — see
    ``z_order_write_n`` for the general N-dimensional form this
    delegates to."""
    z_order_write_n(df, path, [col_x, col_y], bits, num_files, fmt)


def z_order_write_n(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int | None = None,
    num_files: int | None = None,
    fmt: str = "parquet",
) -> None:
    """Rewrite a table clustered on the z-curve of N columns.

    ``repartitionByRange`` on the z-value gives globally disjoint
    z-ranges per file; the within-partition sort tightens row-group
    stats. One shuffle at WRITE time buys N-dimensional data skipping
    on every subsequent scan — min/max stats prune filters on ANY of
    the clustered columns — the lake-maintenance counterpart of
    ``write_bucketed_table`` (which buys exchange-free joins instead).
    ``bits`` defaults to the deepest interleave that fits a long
    (63 // N, capped at 16).
    """
    z_cluster(df, cols, bits=bits, num_files=num_files).write.format(
        fmt
    ).mode("overwrite").save(path)


def z_cluster(
    df: DataFrame,
    cols: list[str],
    bits: int | None = None,
    num_files: int | None = None,
) -> DataFrame:
    """The z-order clustering TRANSFORM behind ``z_order_write_n``:
    returns ``df`` range-partitioned and sorted on the interleaved
    z-value of ``cols`` (so any writer — plain parquet, the versioned
    lake, or a transactional compaction — can produce z-clustered
    files). Min-max-normalizes each dimension into the full bit range
    first: raw values spanning only a fraction of 2^bits would leave
    the high interleave bits constant and the curve degenerates to a
    single-column sort. One cheap stats pass + broadcast join — no
    global sort per column (ntile-ranking would need one)."""
    from pyspark.sql import functions as F

    if bits is None:
        bits = min(16, 63 // len(cols))
    aggs = []
    for j, c in enumerate(cols):
        aggs.append(F.min(c).alias(f"__lo{j}"))
        aggs.append(F.max(c).alias(f"__hi{j}"))
    stats = df.agg(*aggs)
    top = (1 << bits) - 1

    def norm(c, lo, hi):
        span = F.greatest(F.col(hi) - F.col(lo), F.lit(1)).cast("double")
        return F.floor(
            (c - F.col(lo)).cast("double") * top / span
        ).cast("long")

    out = df.crossJoin(F.broadcast(stats)).withColumn(
        "__z",
        z_value_n(
            [
                norm(F.col(c), f"__lo{j}", f"__hi{j}")
                for j, c in enumerate(cols)
            ],
            bits=bits,
        ),
    ).drop(*[f"__lo{j}" for j in range(len(cols))],
           *[f"__hi{j}" for j in range(len(cols))])
    part = (
        out.repartitionByRange(num_files, "__z")
        if num_files
        else out.repartitionByRange("__z")
    )
    return part.sortWithinPartitions("__z").drop("__z")


# ---------------------------------------------------------------------------
# Versioned tables (time travel, lakehouse-lite)
# ---------------------------------------------------------------------------
def write_version(df: DataFrame, path: str) -> int:
    """Append a new immutable snapshot version of a table.

    Layout: ``path/v=N/`` parquet per version — plain directories, no
    manifest server. Writers only ever CREATE a new ``v=N`` directory
    (never mutate an old one), so concurrent readers of any existing
    version are unaffected — the property that makes time travel,
    reproducible training runs ("train on v7"), and safe rollback work
    on object storage. Returns the new version number.

    At 100 TB: each version is an independent parquet dataset with full
    pushdown/pruning; storage cost is per-version (dedupe via
    partition-level reuse is the next step a real table format adds).

    Concurrency: readers of existing versions are always safe; WRITERS
    race on max(v)+1 (check-then-act). ``errorifexists`` makes the
    loser fail cleanly instead of corrupting, and the retry loop below
    claims the next free number — adequate for a handful of concurrent
    writers; a real multi-writer table needs a log/manifest with
    atomic compare-and-swap (what Delta/Iceberg add).
    """
    import os

    v = (max(list_versions_at(path), default=0)) + 1
    for _ in range(16):
        # pre-probe: a directory that already exists (complete or an
        # in-flight writer's) is a lost race -> try the next number
        # without attempting a write
        if os.path.isdir(os.path.join(path, f"v={v}")):
            v += 1
            continue
        try:
            df.write.mode("errorifexists").parquet(os.path.join(path, f"v={v}"))
            return v
        except Exception as e:
            # retry ONLY the errorifexists collision (two writers raced
            # between probe and write). Any other failure re-raises —
            # Spark creates the directory before a job can fail, so
            # probing the dir here would misread a genuine write error
            # (OOM, bad data) as a collision and retry it 16 times.
            msg = str(e)
            if "PATH_ALREADY_EXISTS" in msg or "already exists" in msg:
                v += 1
                continue
            raise
    raise RuntimeError(f"could not claim a version under {path} after 16 tries")


def list_versions_at(path: str) -> list[int]:
    import os
    import re

    if not os.path.isdir(path):
        return []
    out = []
    for d in os.listdir(path):
        m = re.fullmatch(r"v=(\d+)", d)
        if m and os.path.exists(os.path.join(path, d, "_SUCCESS")):
            out.append(int(m.group(1)))
    return sorted(out)


def read_version(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    """Read a table snapshot: latest complete version by default, or
    time-travel to an explicit ``version``."""
    import os

    versions = list_versions_at(path)
    if not versions:
        raise FileNotFoundError(f"no complete versions under {path}")
    v = version if version is not None else versions[-1]
    if v not in versions:
        raise ValueError(f"version {v} not in {versions}")
    return spark.read.parquet(os.path.join(path, f"v={v}"))


def vacuum_versions(path: str, keep_last: int = 3) -> list[int]:
    """Retention for versioned tables: delete all but the newest
    ``keep_last`` complete versions (incomplete/no-_SUCCESS directories
    are never touched — they may be in-flight writers). Returns the
    versions removed.

    Readers pin a version by path (``read_version``), so vacuum is the
    ONE operation that can break a reader; production systems gate it
    on a retention window for exactly that reason — callers own that
    policy here.
    """
    import os
    import shutil

    versions = list_versions_at(path)
    doomed = versions[:-keep_last] if keep_last > 0 else versions
    for v in doomed:
        shutil.rmtree(os.path.join(path, f"v={v}"))
    return doomed


# ---------------------------------------------------------------------------
# File-level data skipping (manifest min/max stats, Delta/Iceberg-style)
# ---------------------------------------------------------------------------
def write_manifest(
    spark: SparkSession, path: str, stats_cols: list[str]
) -> int:
    """Compute per-file min/max/count stats for an existing parquet
    table and persist them under ``<path>/_manifest`` (underscore-
    prefixed paths are invisible to Spark/Hadoop file listings, so the
    table itself reads unchanged).

    This is the data-skipping half of what a Delta/Iceberg txn log
    provides (the reference's sink keeps no stats at all — it spools
    plain CSV with a typed header,
    /root/reference/src/headers/table.cpp:252-307, so every query
    re-reads every byte): one row per physical file, columns
    ``file, n_rows, <c>_min, <c>_max`` per stats column. The stats
    pass is a single aggregation grouped on ``_metadata.file_path``
    (Spark's hidden per-row file provenance column) — no extra scan
    per column, no driver loops. Returns the number of files profiled.

    At 100 TB / 128 MB files the manifest is ~800k rows — kilobytes
    per file — which is why real lakehouses can plan petabyte tables
    from one small sidecar; re-run after compaction/z-order rewrites.
    """
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in stats_cols:
        aggs.append(F.min(c).alias(f"{c}_min"))
        aggs.append(F.max(c).alias(f"{c}_max"))
    man = (
        df.select(F.col("_metadata.file_path").alias("file"), *stats_cols)
        .groupBy("file")
        .agg(*aggs)
    )
    _publish_manifest(man, path + "/_manifest")
    return spark.read.parquet(path + "/_manifest").count()


def _publish_manifest(man: DataFrame, man_path: str) -> None:
    """Land a manifest DataFrame as ONE stable file
    ``<man_path>/manifest.parquet``: write to a sibling temp dir, then
    atomically ``os.replace`` the single part file onto the stable
    name. Readers (``spark.read.parquet`` on the directory) therefore
    always see exactly one complete manifest — the previous one or the
    new one, never a missing or doubled sidecar. This is POSIX
    rename-atomicity on a LOCAL filesystem; on object storage (no
    atomic rename) a real table format's commit log is the answer.
    """
    import glob
    import os
    import shutil
    import uuid as _uuid

    tmp = man_path.rstrip("/") + "_tmp_" + _uuid.uuid4().hex[:8]
    man.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    os.makedirs(man_path, exist_ok=True)
    os.replace(part, os.path.join(man_path, "manifest.parquet"))
    # sweep leftovers: the temp dir, and (one-time migration) any
    # multi-part files a pre-stable-layout writer left in place
    shutil.rmtree(tmp)
    for old in glob.glob(os.path.join(man_path, "part-*.parquet")):
        os.remove(old)


def read_skipping(
    spark: SparkSession,
    path: str,
    col: str,
    lo=None,
    hi=None,
):
    """Scan a manifest-carrying table with file-level pruning: files
    whose [min,max] range for ``col`` cannot intersect [lo,hi] are
    never opened. Returns (DataFrame, n_files_read, n_files_total).

    The manifest is file-count-sized, not data-sized, so collecting
    the pruned file list to the driver is the same bounded
    model-parameter pattern as IVF centroids (at extreme file counts,
    partition the manifest itself by the stats column — the hierarchy
    real table formats use). The residual row filter is still applied
    (file stats prove non-membership, never membership), and still
    pushes down into the surviving files' row groups.
    """
    from pyspark.sql import functions as F

    man = spark.read.parquet(path + "/_manifest")
    keep = man
    if lo is not None:
        keep = keep.filter(F.col(f"{col}_max") >= F.lit(lo))
    if hi is not None:
        keep = keep.filter(F.col(f"{col}_min") <= F.lit(hi))
    files = [r.file for r in keep.select("file").collect()]
    n_total = man.count()
    schema = spark.read.parquet(path).schema
    if not files:
        return spark.createDataFrame([], schema), 0, n_total
    df = spark.read.schema(schema).parquet(*files)
    if lo is not None:
        df = df.filter(F.col(col) >= F.lit(lo))
    if hi is not None:
        df = df.filter(F.col(col) <= F.lit(hi))
    return df, len(files), n_total


def write_bloom_manifest(
    spark: SparkSession,
    path: str,
    col: str,
    n_bits: int | None = None,
    n_hashes: int = 5,
) -> int:
    """Per-file Bloom filters for point-lookup skipping — the equality
    complement of ``write_manifest``'s range stats (a needle-in-100TB
    ``WHERE id = ?`` prunes nothing by min/max when files aren't
    clustered on ``id``, but a per-file Bloom filter kills almost
    every file).

    Each file's filter is ``n_bits`` bits packed into array<long>,
    built with ONE aggregation: k xxhash64 probes per row ->
    posexplode to (file, word, bit-mask) -> bit_or per word. Stored
    under ``<path>/_bloom_<col>`` (underscore dir: invisible to table
    scans). ~(n_bits/8) bytes per file, so even million-file tables
    keep the sidecar driver-loadable.

    ``n_bits=None`` auto-sizes to ~10 bits per row of the LARGEST
    file (next power of two, floor 4096): a fixed bitset silently
    saturates once rows/file outgrows it — every bit set, zero
    pruning — which is a performance cliff, not a correctness bug,
    and exactly the kind that only shows up at scale. False-positive
    rate ~ (1-e^{-kn/m})^k ≈ 1% at 10 bits/key, k=5; false positives
    cost one pushed-down scan each, never a wrong answer (Bloom
    proves absence only).
    """
    from pyspark.sql import functions as F

    df = spark.read.parquet(path).select(
        F.col("_metadata.file_path").alias("file"), F.col(col).alias("__v")
    )
    if n_bits is None:
        mx = (
            df.groupBy("file").agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n").alias("m")).head()
        )
        rows_per_file = int(mx.m or 1)
        n_bits = 4096
        while n_bits < 10 * rows_per_file:
            n_bits <<= 1
    # k bit positions per row -> (word index, single-bit mask)
    probes = df.select(
        "file",
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col("__v"), F.lit(i)), F.lit(n_bits))
                    for i in range(n_hashes)
                ]
            )
        ).alias("bit"),
    ).select(
        "file",
        (F.col("bit") / 64).cast("int").alias("word"),
        # SQL shiftleft takes a column shift amount (the PySpark
        # wrapper pins it to a Python int, hence expr)
        F.expr("shiftleft(1L, int(bit % 64))").alias("mask"),
    )
    words = probes.groupBy("file", "word").agg(
        F.bit_or("mask").alias("bits")
    )
    packed = words.groupBy("file").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("word"), F.col("bits")))
        ).alias("sparse")
    ).select(
        "file",
        F.lit(n_bits).alias("n_bits"),
        F.lit(n_hashes).alias("n_hashes"),
        "sparse",
    )
    out = path + f"/_bloom_{col}"
    packed.coalesce(1).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).count()


def bloom_probe_bits(
    spark: SparkSession, value, typ: str, cfgs
) -> dict:
    """Bloom probe bit positions of ``value`` for each ``(n_bits,
    n_hashes)`` config in ``cfgs``: ``{cfg: [pmod(xxhash64(CAST(value
    AS typ), i), n_bits) for i < n_hashes]}``, the positions
    :func:`write_bloom_manifest` and the txlog Bloom build set.

    Every config's hashes are projected over a one-row ``VALUES``
    relation and collected once. The optimizer folds the projection
    into a local relation, so Spark's own xxhash64 runs on the driver
    and no job starts."""
    from pyspark.sql import functions as F

    cfgs = sorted(set(cfgs))
    if not cfgs:
        return {}
    lit = F.lit(value).cast(typ)
    row = (
        spark.sql("SELECT * FROM VALUES (0) AS t(__z)")
        .select(
            *[
                F.pmod(F.xxhash64(lit, F.lit(i)), F.lit(nb)).alias(
                    f"b{j}_{i}"
                )
                for j, (nb, nh) in enumerate(cfgs)
                for i in range(nh)
            ]
        )
        .collect()[0]
    )
    return {
        (nb, nh): [int(row[f"b{j}_{i}"]) for i in range(nh)]
        for j, (nb, nh) in enumerate(cfgs)
    }


def read_point_lookup(
    spark: SparkSession,
    path: str,
    col: str,
    value,
):
    """Equality scan through the Bloom sidecar: only files whose
    filter admits ``value`` are opened; the real predicate still
    applies inside them (Bloom false positives cost I/O, never
    correctness). Returns (DataFrame, n_files_read, n_files_total).

    The probe hashes must be bit-identical to the build hashes, so
    they are Spark's own xxhash64 over the value cast to the data
    column's type, folded on the driver from a one-row ``VALUES``
    projection (:func:`bloom_probe_bits`; a driver-side
    reimplementation would silently diverge on type widths). The
    sidecar membership test is a sparse-word lookup: every probe bit's
    word must be present with that bit set.
    """
    from pyspark.sql import functions as F

    man = spark.read.parquet(path + f"/_bloom_{col}")
    head = man.head()
    if head is None:
        raise ValueError(f"empty bloom manifest at {path}/_bloom_{col}")
    n_bits, n_hashes = head.n_bits, head.n_hashes

    schema = spark.read.parquet(path).schema
    typ = schema[col].dataType.simpleString()
    cfg = (n_bits, n_hashes)
    probe = bloom_probe_bits(spark, value, typ, [cfg])[cfg]
    def _admits(word: int, mask: int):
        # single-arg lambda on purpose: PySpark binds higher-order-
        # function callbacks by arity, so default-arg captures would
        # be mistaken for extra lambda parameters
        def check(s):
            return (s.getField("word") == F.lit(word)) & (
                s.getField("bits").bitwiseAND(F.lit(mask)) == F.lit(mask)
            )

        return check

    cond = F.lit(True)
    for b in probe:
        word, bit = divmod(b, 64)
        # the sparse words are signed longs: bit 63 is the sign bit
        mask = 1 << bit if bit < 63 else -(1 << 63)
        cond = cond & F.exists(F.col("sparse"), _admits(word, mask))
    files = [r.file for r in man.filter(cond).select("file").collect()]
    n_total = man.count()
    if not files:
        return spark.createDataFrame([], schema), 0, n_total
    df = spark.read.schema(schema).parquet(*files).filter(
        F.col(col) == F.lit(value).cast(typ)
    )
    return df, len(files), n_total


def read_skipping_multi(
    spark: SparkSession,
    path: str,
    ranges: dict,
):
    """Multi-predicate file skipping: ``ranges`` maps column ->
    (lo, hi) (either bound None for open); a file survives only if
    EVERY predicate's [min,max] stats overlap — the intersection of
    the per-column prunes, which is where a Z-ordered layout earns
    its keep (per-file ranges are tight in BOTH dimensions, so the
    intersection gets sharp; a single-column sort gives tight ranges
    in one dimension only). Residual filters still apply. Returns
    (DataFrame, n_files_read, n_files_total).
    """
    from pyspark.sql import functions as F

    man = spark.read.parquet(path + "/_manifest")
    keep = man
    for col, (lo, hi) in ranges.items():
        if lo is not None:
            keep = keep.filter(F.col(f"{col}_max") >= F.lit(lo))
        if hi is not None:
            keep = keep.filter(F.col(f"{col}_min") <= F.lit(hi))
    files = [r.file for r in keep.select("file").collect()]
    n_total = man.count()
    schema = spark.read.parquet(path).schema
    if not files:
        return spark.createDataFrame([], schema), 0, n_total
    df = spark.read.schema(schema).parquet(*files)
    for col, (lo, hi) in ranges.items():
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
    return df, len(files), n_total


def write_sorted_export(
    df: DataFrame,
    path: str,
    order_cols: list[str],
    n_files: int = 8,
    ascending: bool = True,
) -> int:
    """Totally-ordered multi-file export: the distributed form of the
    reference's ORDER BY -> CSV sink (/root/reference/src/main.cpp:754-771
    — which sorts only the FIRST scan batch, /root/reference/src/main.cpp:
    405-544, so its "sorted" output is wrong past one batch).

    ``repartitionByRange`` range-partitions on the sort key (sampled
    split points — the same mechanism as Spark's global orderBy), each
    partition sorts locally, and one file lands per partition. The
    result is a totally ordered dataset *across* files: every row in
    file i sorts <= every row in file i+1 (ties may straddle the
    boundary). A per-file min/max manifest (`write_manifest`) is the
    consume-side contract: reading files in manifest order yields the
    fully sorted stream with NO merge step — how a 100 TB sorted
    export actually ships (no single writer ever holds the whole
    order; consumers stream file-by-file).

    Returns the number of files written.
    """
    from pyspark.sql import functions as F

    keys = [
        F.col(c).asc() if ascending else F.col(c).desc() for c in order_cols
    ]
    (
        df.repartitionByRange(n_files, *keys)
        .sortWithinPartitions(*keys)
        .write.mode("overwrite")
        .parquet(path)
    )
    return write_manifest(df.sparkSession, path, [order_cols[0]])


def sorted_export_file_order(
    spark: SparkSession, path: str, first_key: str, ascending: bool = True
) -> list[str]:
    """Consume-side of :func:`write_sorted_export`: the file list in
    global sort order, validated against the manifest — raises if any
    two files' [min,max] key ranges interleave (which would mean the
    export is NOT totally ordered and a merge would be required).

    The manifest is one row per file (bounded, kilobytes at 100 TB) —
    the only thing that ever reaches the driver.
    """
    man = spark.read.parquet(path + "/_manifest")
    lo, hi = f"{first_key}_min", f"{first_key}_max"
    rows = man.select("file", lo, hi).collect()
    rows.sort(key=lambda r: (r[lo], r[hi]), reverse=not ascending)
    for prev, cur in zip(rows, rows[1:]):
        a, b = (prev[hi], cur[lo]) if ascending else (cur[hi], prev[lo])
        if a > b:
            raise ValueError(
                f"files interleave on {first_key}: {prev['file']} "
                f"[{prev[lo]}, {prev[hi]}] vs {cur['file']} "
                f"[{cur[lo]}, {cur[hi]}]"
            )
    return [r["file"] for r in rows]


def delete_keys_rewrite(
    spark: SparkSession,
    path: str,
    col: str,
    keys: list,
) -> tuple[int, int, int]:
    """Targeted row deletion by key IN-list (GDPR "right to be
    forgotten" / opt-out purge): sugar over ``delete_where_rewrite``
    with the pushdown-friendly ``col IN keys`` predicate. See that
    function for the locate -> rewrite -> swap mechanics."""
    from pyspark.sql import functions as F

    return delete_where_rewrite(spark, path, F.col(col).isin(list(keys)))


def delete_where_rewrite(
    spark: SparkSession,
    path: str,
    predicate,
) -> tuple[int, int, int]:
    """Targeted row deletion (the training-data pipeline's delete
    path): remove every row matching ``predicate`` (a pyspark Column)
    by rewriting ONLY the physical files that actually contain a
    victim row. The reference's CSV spool
    (src/headers/table.cpp:252-307) can only rewrite the world; real
    lakehouses do locate -> rewrite -> swap, which is what this
    rebuilds on plain parquet:

      1. locate — one scan with the predicate pushed into parquet
         (row-group stats + dictionary pages prune aggressively when
         the filtered columns are clustered) returning just the
         DISTINCT ``_metadata.file_path`` values: a file-count-bounded
         collect.
      2. rewrite — only the affected files are re-read; the survivors
         (NOT predicate) land as new part files in the table
         directory. Work is O(affected files); untouched files are
         never opened.
      3. swap — dead files are unlinked; an existing ``_manifest``
         drops the dead files' rows (atomic single-file publish) and
         is incrementally extended for the new files (O(delta)
         update_manifest). Bloom sidecars are rebuilt if present —
         survivors land in NEW files a stale filter would miss.

    Single-writer contract (same as write_version): a reader racing
    the swap can observe old+new files together or a file missing; a
    multi-writer deployment needs a real transaction log
    (Delta/Iceberg). Returns (n_deleted, n_files_rewritten,
    n_files_total).
    """
    import glob
    import os
    import shutil
    import uuid as _uuid

    from pyspark.sql import functions as F

    def _local(p: str) -> str:
        # _metadata.file_path is a URI: strip the scheme AND decode
        # %XX escapes (a partition dir named "x=NOT SPECIFIED" arrives
        # as x=NOT%20SPECIFIED) so os.remove/os.replace below operate
        # on the real on-disk names.
        from urllib.parse import unquote

        return unquote(p[len("file:"):] if p.startswith("file:") else p)

    all_files = [
        f
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if not any(
            seg.startswith("_")
            for seg in os.path.relpath(f, path).split(os.sep)
        )
    ]
    df = spark.read.parquet(path)
    # 3VL guard: a row where the predicate evaluates NULL is NOT a
    # victim (filter(pred) already treats NULL as false) — but naive
    # filter(~pred) would ALSO drop it (NOT NULL = NULL). Coalesce to
    # FALSE so victims and survivors exactly tile the table.
    pred = F.coalesce(predicate, F.lit(False))
    affected = sorted(
        r["f"]
        for r in df.filter(pred)
        .select(F.col("_metadata.file_path").alias("f"))
        .distinct()
        .collect()
    )
    if not affected:
        return 0, 0, len(all_files)

    # Rewrite PER DIRECTORY: in a hive-partitioned layout the
    # partition values live in directory names, not file bytes, so a
    # survivor must land back in its own partition directory or its
    # partition columns are silently lost. (A predicate referencing a
    # partition COLUMN resolves in the locate scan but not in the
    # per-directory file reads below — Spark raises a clear analysis
    # error; for partition-valued deletes use overwrite_partitions,
    # which drops whole directories without rewriting a byte.)
    from collections import defaultdict

    by_dir: dict[str, list[str]] = defaultdict(list)
    for f in affected:
        by_dir[os.path.dirname(_local(f))].append(_local(f))
    n_deleted = 0
    for d, files in sorted(by_dir.items()):
        touched = spark.read.parquet(*files)
        n_deleted += touched.filter(pred).count()
        tmp = os.path.join(d, "_delete_tmp_" + _uuid.uuid4().hex[:8])
        touched.filter(~pred).write.parquet(tmp)
        for p in glob.glob(os.path.join(tmp, "part-*.parquet")):
            os.replace(
                p,
                os.path.join(
                    d, f"part-del{_uuid.uuid4().hex[:8]}-{os.path.basename(p)}"
                ),
            )
        shutil.rmtree(tmp)
        for f in files:
            os.remove(f)

    man_path = os.path.join(path, "_manifest")
    if os.path.isdir(man_path):
        man = spark.read.parquet(man_path)
        kept = man.filter(~F.col("file").isin(affected)).localCheckpoint(eager=True)
        _publish_manifest(kept, man_path)
        update_manifest(spark, path)
    for bloom in glob.glob(os.path.join(path, "_bloom_*")):
        bcol = os.path.basename(bloom)[len("_bloom_"):]
        head = spark.read.parquet(bloom).head()
        write_bloom_manifest(
            spark, path, bcol, n_bits=int(head.n_bits), n_hashes=int(head.n_hashes)
        )
    return n_deleted, len(affected), len(all_files)


def update_manifest(spark: SparkSession, path: str) -> tuple[int, int]:
    """Incrementally extend an existing ``_manifest`` after files were
    APPENDED to the table: profile only files the manifest has not seen
    and union their stats rows in.

    ``write_manifest`` re-scans the whole table — correct but O(table).
    On an append-only 100 TB table the daily delta is a fraction of a
    percent; this maintains the same sidecar at O(delta): the
    ``_metadata.file_path`` filter is evaluated per-FILE before any row
    is read, so unchanged files contribute zero scan work (asserted via
    execution metrics in test_lake.py). Stats columns are inherited
    from the existing manifest's schema. Rewritten/compacted files
    still require ``write_manifest`` — path identity is the increment
    key, and a rewrite changes paths.

    Returns (n_new_files_profiled, n_total_manifest_rows).
    """
    import glob as _glob
    import os

    from pyspark.sql import functions as F

    man_path = path + "/_manifest"
    man = spark.read.parquet(man_path)
    stats_cols = sorted(
        {c[: -len("_min")] for c in man.columns if c.endswith("_min")}
    )
    # The manifest stores ``_metadata.file_path`` values, which are
    # URIs — a directory named ``x=NOT SPECIFIED`` on disk appears as
    # ``x=NOT%20SPECIFIED`` there, while glob sees the raw name. The
    # set difference therefore runs in RAW-path space (unquote the
    # stored URIs) or every file under a special-char partition dir
    # would be re-profiled as "fresh" on every update and duplicate
    # its manifest row. (A raw on-disk name literally containing %XX
    # would collide with its decoded form; Spark's own writers never
    # produce those.)
    from urllib.parse import unquote

    known = {unquote(r["file"]) for r in man.select("file").collect()}
    # Fresh files are resolved by PATH SET DIFFERENCE on the driver
    # (file-count-bounded, like the manifest itself) and handed to the
    # reader as an explicit path list: only the unseen files are ever
    # listed or opened, and the plan carries no N-thousand-string
    # isin literal (a ~NOT IN over _metadata.file_path achieves the
    # same pruning but bloats the plan linearly in table file count).
    physical = {
        f"file:{p}"
        for p in _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if not any(
            seg.startswith("_")
            for seg in os.path.relpath(p, path).split(os.sep)
        )
    }
    fresh_paths = sorted(p[len("file:"):] for p in physical - known)
    if not fresh_paths:
        return 0, man.count()
    # basePath keeps hive-partition columns resolvable when the stats
    # columns include a partition column (which exists only in the
    # directory names, not inside the leaf files)
    fresh = (
        spark.read.option("basePath", path)
        .parquet(*fresh_paths)
        .select(F.col("_metadata.file_path").alias("file"), *stats_cols)
    )
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in stats_cols:
        aggs.append(F.min(c).alias(f"{c}_min"))
        aggs.append(F.max(c).alias(f"{c}_max"))
    new_rows = fresh.groupBy("file").agg(*aggs).select(*man.columns)
    n_new = new_rows.count()
    if n_new:
        # single-file atomic publish: readers of the sidecar see the
        # old manifest or the new one, never a partial/absent state
        _publish_manifest(man.unionByName(new_rows), man_path)
    return n_new, spark.read.parquet(man_path).count()


def _distinct_sidecar_path(path: str, id_col: str) -> str:
    return f"{path}/_distinct_{id_col}"


def write_distinct_sidecar(
    spark: SparkSession, path: str, id_col: str
) -> int:
    """Build a per-file exact-distinct BITMAP sidecar for ``id_col``
    under ``<path>/_distinct_<col>`` (underscore-prefixed: invisible
    to table scans, like ``_manifest``).

    One bitmap row per (file, 32k-id bucket) via the mergeable bitmap
    aggregates (functions/bitmaps.py) — the Druid/ClickHouse segment-
    bitmap design applied at file grain. Any later
    ``COUNT(DISTINCT id_col)`` over the table (or any file subset —
    time travel, version diff, partition slice) is an OR-merge +
    popcount over kilobytes of sidecar instead of a re-shuffle of the
    raw ids; at 100 TB that's the difference between a metadata query
    and the whole job. Exact, not approximate: buckets partition the
    id space, so popcounts sum without double-counting.

    Returns the number of sidecar rows written.
    """
    from pyspark.sql import functions as F

    from ..functions.bitmaps import build_bitmaps

    df = spark.read.parquet(path).select(
        F.col("_metadata.file_path").alias("file"), id_col
    )
    bm = build_bitmaps(df, ["file"], id_col)
    side = _distinct_sidecar_path(path, id_col)
    # single-file atomic publish, same guarantee as the manifest:
    # readers see the old sidecar or the new one, never partial state
    _publish_manifest(bm, side)
    return spark.read.parquet(side).count()


def update_distinct_sidecar(
    spark: SparkSession, path: str, id_col: str
) -> tuple[int, int]:
    """Incrementally extend the distinct sidecar with files appended
    since ``write_distinct_sidecar`` — same raw-path set difference as
    ``update_manifest`` (and the same URI-vs-raw decode rule), same
    O(delta) cost: only unseen files are read. Returns
    (n_new_files_profiled, n_total_sidecar_rows)."""
    import glob as _glob
    import os
    from urllib.parse import unquote

    from pyspark.sql import functions as F

    from ..functions.bitmaps import build_bitmaps

    side = _distinct_sidecar_path(path, id_col)
    old = spark.read.parquet(side)
    # stored file values are _metadata.file_path URIs — strip the
    # scheme and decode %XX so the set difference runs in raw-path
    # space (same rule as update_manifest)
    known = {
        unquote(f[len("file:"):] if f.startswith("file:") else f)
        for f in (r["file"] for r in old.select("file").distinct().collect())
    }
    physical = {
        p
        for p in _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if not any(
            seg.startswith("_")
            for seg in os.path.relpath(p, path).split(os.sep)
        )
    }
    fresh_paths = sorted(physical - known)
    if not fresh_paths:
        return 0, old.count()
    fresh = (
        spark.read.option("basePath", path)
        .parquet(*fresh_paths)
        .select(F.col("_metadata.file_path").alias("file"), id_col)
    )
    new_rows = build_bitmaps(fresh, ["file"], id_col)
    merged = old.unionByName(new_rows)
    # single-file atomic publish (os.replace onto the stable name) —
    # the same reader guarantee as update_manifest
    _publish_manifest(merged, side)
    return len(fresh_paths), spark.read.parquet(side).count()


def instant_distinct(
    spark: SparkSession, path: str, id_col: str
) -> DataFrame:
    """Answer exact ``COUNT(DISTINCT id_col)`` from the sidecar alone
    — zero data files scanned (the metadata-only sibling of
    ``instant_count``). Returns one row (n_distinct)."""
    from ..functions.bitmaps import count_distinct, merge_bitmaps

    bm = spark.read.parquet(_distinct_sidecar_path(path, id_col))
    return count_distinct(merge_bitmaps(bm, []), [])
