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
The z-order family clusters files on several columns at once, and
per-file Bloom sidecars make equality probes skip files on a plain
parquet directory. Versions, per-file stats, row deletes and distinct
bitmaps live on the transactional log (sources/txlog.py).
"""

from __future__ import annotations

import functools
import os
import threading

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
# Bloom sidecars (point-lookup skipping). Versions, min/max stats,
# deletes and distinct bitmaps ride the transactional log instead
# (sources/txlog.py); this directory-level Bloom build is what plain
# parquet directories use. Its word builder, probe hashes and sidecar
# decoder are shared with the log's per-commit Bloom sidecars.
# ---------------------------------------------------------------------------
def empty_frame(spark: SparkSession, schema) -> DataFrame:
    """An empty frame of ``schema``. ``limit(0)`` lets the optimizer
    replace the list-built Python RDD with an empty local relation, so
    collecting a read that pruned every file starts no job."""
    return spark.createDataFrame([], schema).limit(0)


def exact_lit(value):
    """``F.lit(value)`` with calendar-exact dates and timestamps.

    PySpark hands a ``date``/``datetime`` literal to the JVM as a
    ``java.sql`` value, which uses the hybrid Julian calendar before
    1582-10-15: ``F.lit(datetime(1000, 1, 1, 5))`` becomes
    ``0999-12-27 05:00`` and ``F.lit(date(1, 1, 1))`` raises. Their ISO
    text cast to ``date``/``timestamp`` is the proleptic Gregorian value
    Spark stores (a naive datetime reads as session-zone wall clock).
    Every other value is plain ``F.lit``."""
    import datetime

    from pyspark.sql import functions as F

    if isinstance(value, datetime.datetime):
        return F.lit(value.isoformat(sep=" ")).cast("timestamp")
    if isinstance(value, datetime.date):
        return F.lit(value.isoformat()).cast("date")
    return F.lit(value)


def bloom_words(keyed: DataFrame, n_bits: int, n_hashes: int) -> DataFrame:
    """Per-file Bloom filters of a ``(file, __v)`` frame, one row per
    file: ``file, n_bits, n_hashes, sparse``. ONE aggregation: k
    xxhash64 probes per row -> (file, word, single-bit mask) -> bit_or
    per word -> the word-sorted ``sparse`` array<struct<word, bits>>.
    Words with no bit set are absent, so a filter costs at most
    ~n_bits/8 bytes per file."""
    from pyspark.sql import functions as F

    probes = keyed.select(
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
    return (
        probes.groupBy("file", "word")
        .agg(F.bit_or("mask").alias("bits"))
        .groupBy("file")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("word"), F.col("bits")))
            ).alias("sparse")
        )
        .select(
            "file",
            F.lit(n_bits).alias("n_bits"),
            F.lit(n_hashes).alias("n_hashes"),
            "sparse",
        )
    )


def write_bloom_manifest(
    spark: SparkSession,
    path: str,
    col: str,
    n_bits: int | None = None,
    n_hashes: int = 5,
) -> int:
    """Per-file Bloom filters for point-lookup skipping on a plain
    parquet directory: a needle-in-100TB ``WHERE id = ?`` prunes
    nothing by min/max when files aren't clustered on ``id``, but a
    per-file Bloom filter kills almost every file.

    Each file's filter is ``n_bits`` bits packed into array<long> by
    :func:`bloom_words`. Stored under ``<path>/_bloom_<col>``
    (underscore dir: invisible to table scans). ~(n_bits/8) bytes per
    file, so even million-file tables keep the sidecar
    driver-loadable.

    ``n_bits=None`` auto-sizes to ~10 bits per row of the LARGEST
    file (next power of two, floor 4096): a fixed bitset silently
    saturates once rows/file outgrows it — every bit set, zero
    pruning — which is a performance cliff, not a correctness bug,
    and exactly the kind that only shows up at scale. False-positive
    rate ~ (1-e^{-kn/m})^k ≈ 1% at 10 bits/key, k=5; false positives
    cost one pushed-down scan each, never a wrong answer (Bloom
    proves absence only).
    """
    import pyarrow.parquet as pq
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
    out = path + f"/_bloom_{col}"
    bloom_words(df, n_bits, n_hashes).coalesce(1).write.mode(
        "overwrite"
    ).parquet(out)
    # one filter row per data file, counted from the part footers
    # (a Spark count would start three jobs)
    return sum(
        pq.ParquetFile(os.path.join(out, part)).metadata.num_rows
        for part in os.listdir(out)
        if part.endswith(".parquet")
    )


def bloom_probe_bits(
    spark: SparkSession, value, typ: str, cfgs
) -> dict:
    """Bloom probe bit positions of ``value`` for each ``(n_bits,
    n_hashes)`` config in ``cfgs``: ``{cfg: [pmod(xxhash64(CAST(value
    AS typ), i), n_bits) for i < n_hashes]}``, the positions
    :func:`bloom_words` sets for :func:`write_bloom_manifest` and the
    txlog Bloom build. The hashes are always Spark's own XXH64 code:
    called directly over the JVM gateway for a plain ``int`` in range
    of an integral type, otherwise through a one-row Catalyst
    projection. See :func:`bloom_probe`."""
    return bloom_probe(spark, value, typ, cfgs)[0]


# Bit width of each integral column type. Spark's ``xxhash64`` hashes
# the narrower three with XXH64.hashInt and bigint with hashLong: the
# width is the column type's, never the Python value's.
_INTEGRAL_BITS = {"tinyint": 8, "smallint": 16, "int": 32, "bigint": 64}
_XXH64_SEED = 42  # the seed of Spark's xxhash64 expression


@functools.lru_cache(maxsize=1)
def _xxh64_class(jvm):
    """The gateway JVM's ``XXH64`` class. Each package step of
    ``jvm.org.apache...`` is a py4j round trip, so it is looked up
    once per gateway, not per probe."""
    return jvm.org.apache.spark.sql.catalyst.expressions.XXH64


def _jvm_probe_hashes(spark: SparkSession, value, typ: str, k: int):
    """Spark's ``[xxhash64(CAST(value AS typ), i) for i < k]``, called
    straight on the JVM's ``XXH64`` class, or None unless ``typ`` is
    integral and ``value`` a plain ``int`` in its range (so the cast
    is the identity). None, bools, floats, decimals, numpy scalars,
    strings and every other type or value go to :func:`bloom_probe`'s
    projection.

    The widths are those of Spark's ``XxHash64`` expression: ``bigint``
    hashes with ``hashLong``; ``int``, ``smallint`` and ``tinyint``
    with ``hashInt``. The seed is 42, and ``xxhash64(v, i)`` then
    hashes the int ``i`` seeded by v's hash. Instance methods only:
    py4j resolves the static overloads of the same names unreliably."""
    width = _INTEGRAL_BITS.get(typ)
    if width is None or type(value) is not int:
        return None
    half = 1 << (width - 1)
    if not -half <= value < half:
        return None
    xxh64 = _xxh64_class(spark.sparkContext._jvm)
    seeded = xxh64(_XXH64_SEED)
    h = seeded.hashLong(value) if width == 64 else seeded.hashInt(value)
    chained = xxh64(h)
    return [chained.hashInt(i) for i in range(k)]


def bloom_probe(
    spark: SparkSession, value, typ: str, cfgs, with_key: bool = False
) -> tuple[dict, object]:
    """``(bits, key)``: the :func:`bloom_probe_bits` positions of
    ``value`` per config in ``cfgs`` and, with ``with_key``, the key
    ``CAST(value AS typ)`` exactly as Spark computes it (None without
    ``with_key`` or ``cfgs``, or when the cast is NULL). A caller that
    filters on the key compares against Spark's own cast, never a
    Python re-cast. Ask for it only where the collected Python value
    is exact (integral and string types): dates and timestamps collect
    through PySpark's ``datetime`` conversion, which fails for year 1.

    The k seeded hashes ``xxhash64(v, i)``, ``i < max(n_hashes)``, are
    Spark's own code either way:

    - when the cast is the identity (a plain ``int`` in range of an
      integral type; see :func:`_jvm_probe_hashes`), they are k+3
      calls on the JVM's ``XXH64`` class over py4j, and the key is
      ``value`` itself. No query is built, analyzed or planned.
    - every other type and value is projected ONCE over a one-row
      ``VALUES`` relation (one ``select`` of the literal, one
      ``selectExpr`` of the hashes and the key) and collected; the
      optimizer folds the projection into a local relation, so no job
      starts, but Catalyst analysis, optimization and planning run.

    Every config shares those hashes: its bits are ``h % n_bits`` on
    the driver, which equals Spark's ``pmod`` for ``n_bits > 0``."""
    if not cfgs:
        return {}, None
    k = max(nh for _, nh in cfgs)
    hashes = _jvm_probe_hashes(spark, value, typ, k)
    key = value
    if hashes is None:
        row = (
            spark.sql("SELECT * FROM VALUES (0) AS t(__z)")
            .select(exact_lit(value).cast(typ).alias("__v"))
            .selectExpr(
                *[f"xxhash64(__v, {i}) AS h{i}" for i in range(k)],
                *(["__v"] if with_key else []),
            )
            .collect()[0]
        )
        hashes = row[:k]
        key = row["__v"] if with_key else None
    bits = {(nb, nh): [hashes[i] % nb for i in range(nh)] for nb, nh in cfgs}
    return bits, key if with_key else None


# Decoded Bloom sidecars per sidecar parquet file, keyed by (path,
# mtime_ns, size), the stat guard of txlog.read_commit: a sidecar never
# changes once a commit (or write_bloom_manifest) names it, so repeated
# lookups decode each sidecar once. Bounded by the total decoded words;
# on overflow the cache is dropped (a cold restart is just re-decoding).
_BLOOM_CACHE: dict = {}
_BLOOM_CACHE_MAX_WORDS = 1 << 22
_bloom_cache_words = 0
_BLOOM_CACHE_LOCK = threading.Lock()


def load_bloom_sidecar(path: str) -> dict:
    """Decode one Bloom sidecar parquet file (the :func:`bloom_words`
    rows) into ``{file: (n_bits, n_hashes, words, bits)}``: ``words``
    are the file's set word numbers, ascending (int32 numpy), and
    ``bits`` their masks as uint64 numpy, so bit 63, the sign bit of
    the stored signed long, tests like any other bit.

    One pyarrow read per sidecar file, decoded through the flattened
    child arrays of ``sparse`` (no per-word Python objects), then
    cached under the file's stat; the per-file arrays are views of
    the sidecar's child arrays. Test membership with
    :func:`bloom_admits`."""
    global _bloom_cache_words
    import numpy as np
    import pyarrow.parquet as pq

    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    hit = _BLOOM_CACHE.get(key)
    if hit is not None:
        return hit
    tbl = pq.read_table(path)
    sparse = tbl.column("sparse").combine_chunks()
    flat = sparse.flatten()
    words = flat.field("word").to_numpy()
    bits = flat.field("bits").to_numpy().view(np.uint64)
    offs = np.asarray(sparse.offsets)
    offs = offs - offs[0]
    out = {
        f: (nb, nh, words[offs[i]:offs[i + 1]], bits[offs[i]:offs[i + 1]])
        for i, (f, nb, nh) in enumerate(zip(
            tbl.column("file").to_pylist(),
            tbl.column("n_bits").to_pylist(),
            tbl.column("n_hashes").to_pylist(),
        ))
    }
    with _BLOOM_CACHE_LOCK:
        if _bloom_cache_words + len(words) > _BLOOM_CACHE_MAX_WORDS:
            _BLOOM_CACHE.clear()  # bounded; cold restart is re-decoding
            _bloom_cache_words = 0
        _BLOOM_CACHE[key] = out
        _bloom_cache_words += len(words)
    return out


def bloom_admits(entry, probe) -> bool:
    """Whether the decoded filter ``entry`` (a value of
    :func:`load_bloom_sidecar`) has every bit of ``probe`` (its
    config's :func:`bloom_probe_bits`) set: each probe bit's word must
    be present with that bit set. False proves the value absent from
    the file."""
    import numpy as np

    _, _, words, bits = entry
    p = np.asarray(probe, dtype=np.int64)
    w = p // 64
    i = np.searchsorted(words, w)
    if (i >= len(words)).any():
        return False
    mask = np.left_shift(np.uint64(1), (p % 64).astype(np.uint64))
    return bool(((words[i] == w) & ((bits[i] & mask) == mask)).all())


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

    The sidecar's part files are decoded on the driver
    (:func:`load_bloom_sidecar`, cached per file) and tested there
    (:func:`bloom_admits`), so pruning starts no job; the one job the
    call starts is the data-schema read of ``path``; a value every
    filter rejects gets an empty local relation (:func:`empty_frame`),
    whose action starts none. The probe hashes must be bit-identical to
    the build hashes, so they are Spark's own xxhash64 over the value
    cast to the data column's type (:func:`bloom_probe_bits`): the
    JVM's ``XXH64`` class called over py4j when the cast is the
    identity, a one-row ``VALUES`` projection otherwise. A driver-side
    reimplementation would silently diverge on type widths; the
    direct calls take the width from the data column's type, never
    from the Python value (``hashLong`` for ``bigint``, ``hashInt``
    for the narrower integral types), and
    ``test_txlog.py::test_bloom_probe_bits_match_build_hashes`` pins
    them against Spark's own ``pmod(xxhash64(k, i), n_bits)``.
    """
    from pyspark.sql import functions as F

    man = path + f"/_bloom_{col}"
    blooms: dict = {}
    for part in sorted(os.listdir(man)):
        if part.endswith(".parquet"):
            blooms.update(load_bloom_sidecar(os.path.join(man, part)))
    if not blooms:
        raise ValueError(f"empty bloom manifest at {man}")

    schema = spark.read.parquet(path).schema
    typ = schema[col].dataType.simpleString()
    probe = bloom_probe_bits(
        spark, value, typ, {(b[0], b[1]) for b in blooms.values()}
    )
    files = [f for f, b in blooms.items() if bloom_admits(b, probe[b[:2]])]
    if not files:
        return empty_frame(spark, schema), 0, len(blooms)
    df = spark.read.schema(schema).parquet(*files).filter(
        F.col(col) == exact_lit(value).cast(typ)
    )
    return df, len(files), len(blooms)
