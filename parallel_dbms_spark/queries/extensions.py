"""LLM-data-pipeline query surface: dedup, text analysis, similarity
search, multimodal columns — the extension operators beyond the
reference (SURVEY §7 phase 4), registered as first-class queries.

Oracles: exact dedup, n-gram jaccard, text stats, brute-force cosine
top-k, near-dup pairs, and multimodal metadata are all ANSI-SQL
expressible in DuckDB (list lambdas mirror Spark's higher-order
functions op-for-op so doubles match bit-for-bit — see
tests/test_correctness.py). MinHash-LSH / SimHash / ANN-LSH candidate
generation depends on xxhash64, which DuckDB lacks → rows-only checks;
their quality is asserted in pytest (recall vs brute force, planted
near-dup fixtures).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import dedup, multimodal, similarity, text
from .registry import register


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _emb_double(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------
@register(
    "dedup_exact",
    oracle="""SELECT md5(trim(text)) AS text_hash, COUNT(*) AS n_dups,
                     MIN(doc_id) AS keep_id
              FROM documents GROUP BY 1 HAVING COUNT(*) > 1""",
    tags=("dedup",),
)
def dedup_exact(spark, sf_dir):
    return dedup.exact_duplicates(_docs(spark, sf_dir))


def _minhash_bands_ctes() -> str:
    """The shared CTE chain replaying minhash banding under md5 token
    hashing, ending at ``bands(id, band, bucket)`` — composed by the
    pair oracle (dedup_minhash_lsh) and the streaming-kept oracle
    (stream_neardup_dedup_docs), exactly as ``minhash_bands`` is the
    shared Spark stage of both paths."""
    from ..functions.dedup import MINHASH_PRIME, _perm_params

    p = MINHASH_PRIME
    rows = ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(_perm_params(32))
    )
    return rf"""params(i, a, b) AS (VALUES {rows}),
               toks AS (
                 SELECT doc_id AS id,
                        generate_subscripts(regexp_split_to_array(
                          lower(trim(text)), '\s+'), 1) AS pos,
                        unnest(regexp_split_to_array(
                          lower(trim(text)), '\s+')) AS tk
                 FROM documents),
               th AS (
                 SELECT id, pos,
                        CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT)
                          % {p} AS h
                 FROM toks),
               led AS (
                 SELECT id, pos, h,
                        lead(h, 1) OVER w AS h1,
                        lead(h, 2) OVER w AS h2
                 FROM th WINDOW w AS (PARTITION BY id ORDER BY pos)),
               sh AS (
                 SELECT id,
                        ((h * 1000003 + COALESCE(h1, 0)) % {p} * 1000003
                         + COALESCE(h2, 0)) % {p} AS h
                 FROM led WHERE h2 IS NOT NULL OR pos = 1),
               sig AS (
                 SELECT s.id, q.i, MIN((q.a * s.h + q.b) % {p}) AS m
                 FROM sh s, params q GROUP BY 1, 2),
               bands AS (
                 SELECT id, i // 4 AS band,
                        md5(string_agg(CAST(m AS VARCHAR), ','
                                       ORDER BY i)) AS bucket
                 FROM sig GROUP BY id, i // 4)"""


def _minhash_oracle() -> str:
    """DuckDB replay of the ENTIRE MinHash-LSH pipeline under md5
    token hashing: token hash -> prime-field shingle fold (the same
    lead-window arithmetic) -> 32 affine-permutation mins (params as
    literals — the same driver-side LCG constants) -> md5 band buckets
    -> candidate join -> estimated jaccard (k/32, float-exact)."""
    return f"""WITH {_minhash_bands_ctes()},
               cand AS (
                 SELECT DISTINCT x.id AS id_a, y.id AS id_b
                 FROM bands x JOIN bands y
                   ON x.band = y.band AND x.bucket = y.bucket
                  AND x.id < y.id),
               est AS (
                 SELECT c.id_a, c.id_b,
                        SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END)
                          / 32.0 AS est_jaccard
                 FROM cand c
                 JOIN sig sa ON sa.id = c.id_a
                 JOIN sig sb ON sb.id = c.id_b AND sb.i = sa.i
                 GROUP BY 1, 2)
              SELECT id_a, id_b, est_jaccard
              FROM est WHERE est_jaccard >= 0.7"""


@register(
    "dedup_minhash_lsh", oracle=_minhash_oracle(),
    # jaccard: the output IS the minhash-estimated Jaccard coefficient
    # (est_jaccard = matches/32, thresholded) — the estimator twin of
    # decontaminate_vs_benchmark's exact coefficient
    tags=("dedup", "lsh", "jaccard"),
)
def dedup_minhash_lsh(spark, sf_dir):
    # MinHash LSH near-dup pairs, VALUE-HASH-CHECKED end to end: md5
    # token hashing (dedup._token_hash md5 mode) makes every stage —
    # shingle fold, 32-permutation signatures, band buckets, candidate
    # set, estimated jaccard — replayable by the DuckDB oracle above.
    # xxhash64 stays the scale default (streaming dedup unchanged);
    # estimated-vs-exact jaccard quality is pytest-asserted either way.
    return dedup.minhash_lsh_pairs(_docs(spark, sf_dir), hash_fn="md5")


@register(
    "dedup_simhash",
    oracle=r"""WITH th AS (
                 SELECT doc_id AS id,
                        unnest(regexp_extract_all(lower(text), '\S+')) AS tk
                 FROM documents),
               hh AS (
                 SELECT id,
                        CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT) AS h
                 FROM th),
               votes AS (
                 SELECT id, bb.b,
                        SUM(CASE WHEN (h >> bb.b) & 1 = 1
                                 THEN 1 ELSE -1 END) AS v
                 FROM hh, (SELECT unnest(range(60)) AS b) bb
                 GROUP BY 1, 2),
               sig0 AS (
                 SELECT id,
                        SUM(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << b
                                 ELSE CAST(0 AS BIGINT) END) AS sh
                 FROM votes GROUP BY 1),
               sig AS (
                 SELECT d.doc_id AS id,
                        CASE WHEN d.text IS NULL THEN NULL
                             ELSE COALESCE(s.sh, 0) END AS sh
                 FROM documents d LEFT JOIN sig0 s ON s.id = d.doc_id)
              SELECT a.id AS id_a, b.id AS id_b,
                     CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
              FROM sig a JOIN sig b ON a.id < b.id
              WHERE bit_count(xor(a.sh, b.sh)) <= 3""",
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark, sf_dir):
    # SimHash near-dup pairs, VALUE-HASH-CHECKED: md5 token hashing
    # (60-bit signature) makes every vote replayable, and the oracle is
    # the NAIVE all-pairs hamming <= 3 definition — so the pigeonhole
    # block-join candidate path must reproduce the exhaustive answer
    # EXACTLY (lossless candidate generation, verified end to end, the
    # search_substring oracle pattern). xxhash64/64-bit stays the
    # scale default.
    return dedup.simhash_pairs(
        _docs(spark, sf_dir), max_hamming=3, bits=60, hash_fn="md5"
    )


_JACCARD_PAIRS_CTE = r"""toks AS (
                 SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
                 FROM documents),
               sh0 AS (
                 SELECT doc_id,
                        CASE WHEN len(w) <= 2 THEN [array_to_string(w, ' ')]
                             ELSE list_distinct([array_to_string(w[i:i+2], ' ')
                                                 for i in generate_series(1, len(w)-2)])
                        END AS sh
                 FROM toks),
               sh AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM sh0),
               inter AS (
                 SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                        a.n_sh AS na, b.n_sh AS nb, COUNT(*) AS inter
                 FROM sh a JOIN sh b
                   ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                 GROUP BY 1, 2, 3, 4),
               pairs AS (
                 SELECT id_a, id_b, inter / (na + nb - inter) AS jaccard
                 FROM inter WHERE inter / (na + nb - inter) >= 0.5)"""


@register(
    "dedup_ngram_jaccard",
    oracle=f"""WITH {_JACCARD_PAIRS_CTE}
               SELECT id_a, id_b, jaccard FROM pairs""",
    tags=("dedup", "jaccard"),
)
def dedup_ngram_jaccard(spark, sf_dir):
    # max_shingle_df=None here: at sf<=0.01 no shingle can exceed the
    # default cap anyway (fewer docs than the cap), and the uncapped
    # run is exactly the oracle's semantics. The skew-capped variant is
    # exercised in tests and at bench scale.
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), max_shingle_df=None)


@register(
    "dedup_prefix_jaccard",
    oracle=f"""WITH {_JACCARD_PAIRS_CTE}
               SELECT id_a, id_b, jaccard FROM pairs""",
    tags=("dedup", "jaccard", "prefix_filter"),
)
def dedup_prefix_jaccard(spark, sf_dir):
    # Same answer as dedup_ngram_jaccard (same oracle), different
    # physics: PPJoin-style prefix filtering joins only each doc's
    # rarest |A|-ceil(t|A|)+1 shingles, so candidate volume falls as
    # the threshold rises and hot common shingles never become join
    # keys — completeness preserved (no df-cap under-estimation).
    return dedup.prefix_jaccard_pairs(_docs(spark, sf_dir))


@register(
    "dedup_clusters",
    oracle=f"""WITH RECURSIVE {_JACCARD_PAIRS_CTE},
               nodes AS (SELECT id_a AS id FROM pairs
                         UNION SELECT id_b FROM pairs),
               edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                         UNION SELECT id_b AS u, id_a AS v FROM pairs),
               cc(id, lbl) AS (
                 SELECT id, id FROM nodes
                 UNION
                 SELECT e.u, cc.lbl FROM edges e JOIN cc ON cc.id = e.v)
               SELECT id, MIN(lbl) AS cluster_id FROM cc GROUP BY id""",
    tags=("dedup", "clustering", "iterative"),
)
def dedup_clusters(spark, sf_dir):
    # An ITERATIVE distributed algorithm with a full oracle: connected
    # components (min-label propagation) over the deterministic n-gram
    # jaccard pairs; DuckDB closes the same graph with a recursive CTE.
    pairs = dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), max_shingle_df=None)
    return dedup.duplicate_clusters(pairs)


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------
_SW = ", ".join(f"'{w}'" for w in text.EN_STOPWORDS)
_MARKER_SCORES = {
    lang: f"len(list_filter(regexp_extract_all(lower(text), '\\S+'), "
    f"t -> t IN ({', '.join(repr(m) for m in markers)})))"
    for lang, markers in text.LANG_MARKERS.items()
}
_LANG_CASE = (
    "CASE WHEN greatest("
    + ", ".join(_MARKER_SCORES[lang] for lang in text.LANG_MARKERS)
    + ") = 0 THEN 'und' "
    + " ".join(
        f"WHEN {_MARKER_SCORES[lang]} = greatest("
        + ", ".join(_MARKER_SCORES[x] for x in text.LANG_MARKERS)
        + f") THEN '{lang}'"
        for lang in text.LANG_MARKERS
    )
    + " END"
)

# SQL fragments mirroring functions/text.py expression-for-expression
# (same association order -> bit-identical doubles; see
# queries/relational.py module doc).
_PUNCT_SQL = r"len(regexp_extract_all(text, '[^\w\s]')) / greatest(length(text), 1)"
_DIGIT_SQL = r"len(regexp_extract_all(text, '[0-9]')) / greatest(length(text), 1)"
_SW_RATIO_SQL = (
    rf"len(list_filter(regexp_extract_all(lower(text), '\S+'), t -> t IN ({_SW})))"
    rf" / greatest(len(regexp_extract_all(lower(text), '\S+')), 1)"
)
_QUALITY_SQL = (
    f"0.4 * least(length(text) / 400.0, 1.0)"
    f" + 0.3 * (1.0 - least({_PUNCT_SQL} * 4, 1.0))"
    f" + 0.2 * least({_SW_RATIO_SQL} * 4, 1.0)"
    f" + 0.1 * (1.0 - least({_DIGIT_SQL} * 5, 1.0))"
)

_TEXT_STATS_SQL = rf"""SELECT doc_id,
  CAST(length(text) AS INTEGER) AS n_chars,
  CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS n_tokens,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_bpe_tokens,
  {_PUNCT_SQL} AS punct_ratio,
  {_DIGIT_SQL} AS digit_ratio,
  {_SW_RATIO_SQL} AS stopword_ratio,
  {_QUALITY_SQL} AS quality,
  {_LANG_CASE} AS lang_pred,
  list_reduce(list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
              (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
FROM documents"""


@register("text_stats", oracle=_TEXT_STATS_SQL, tags=("text",))
def text_stats(spark, sf_dir):
    return text.text_stats(_docs(spark, sf_dir))


@register(
    "text_lang_distribution",
    oracle=f"SELECT {_LANG_CASE} AS lang_pred, COUNT(*) AS n FROM documents GROUP BY 1",
    tags=("text", "groupby"),
)
def text_lang_distribution(spark, sf_dir):
    return (
        _docs(spark, sf_dir)
        .select(text.language_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# Similarity search over embeddings
# --------------------------------------------------------------------------
_DOT = (
    "list_reduce(list_transform(generate_series(1, len({u})), "
    "i -> {u}[i] * {v}[i]), (x, y) -> x + y)"
)


def _cos_sql(u: str, v: str) -> str:
    return (
        f"{_DOT.format(u=u, v=v)} / "
        f"(sqrt({_DOT.format(u=u, v=u)}) * sqrt({_DOT.format(u=v, v=v)}))"
    )


_BF_TOPK_SQL = f"""WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings),
q AS (SELECT vec_id AS query_id, emb AS qv FROM e WHERE vec_id < 10),
s AS (SELECT q.query_id, c.vec_id AS neighbor_id,
             {_cos_sql('q.qv', 'c.emb')} AS cos
      FROM e c, q WHERE c.vec_id <> q.query_id),
r AS (SELECT query_id, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank
      FROM s)
SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 5"""


@register("sim_bruteforce_topk", oracle=_BF_TOPK_SQL, tags=("similarity",))
def sim_bruteforce_topk(spark, sf_dir):
    emb = _emb_double(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.brute_force_topk(emb, queries, k=5)


_LSH_EXACT_SQL = """WITH g AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5)
                     AS BIGINT)) AS gv
  FROM embeddings),
planes AS (
  SELECT t.t, b.b, d.d,
         (CAST(('0x' || substr(md5(CAST(t.t AS VARCHAR) || ',' ||
                                   CAST(b.b AS VARCHAR) || ',' ||
                                   CAST(d.d AS VARCHAR)), 1, 4))
               AS BIGINT) % 17) - 8 AS w
  FROM range(8) t(t), range(6) b(b), range(64) d(d)),
vx AS (SELECT vec_id, generate_subscripts(gv, 1) - 1 AS d,
              unnest(gv) AS val FROM g),
bits AS (
  SELECT v.vec_id, p.t, p.b,
         CASE WHEN SUM(v.val * p.w) >= 0 THEN 1 ELSE 0 END AS bit
  FROM vx v JOIN planes p ON p.d = v.d
  GROUP BY 1, 2, 3),
sigs AS (SELECT vec_id, t,
                CAST(SUM(bit * (CAST(1 AS BIGINT) << b)) AS BIGINT)
                    AS sig
         FROM bits GROUP BY 1, 2),
cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         FROM sigs q JOIN sigs c ON c.t = q.t AND c.sig = q.sig
         WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
scored AS (SELECT cand.query_id, cand.neighbor_id,
                  CAST(list_dot_product(gq.gv, gc.gv) AS BIGINT)
                      AS dot_g
           FROM cand
           JOIN g gq ON gq.vec_id = cand.query_id
           JOIN g gc ON gc.vec_id = cand.neighbor_id)
SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank, dot_g
FROM (SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id
        ORDER BY dot_g DESC, neighbor_id ASC) AS rn
      FROM scored)
WHERE rn <= 5"""


@register(
    "sim_ann_lsh_topk",
    oracle=_LSH_EXACT_SQL,
    tags=("similarity", "lsh", "pandas_udf"),
)
def sim_ann_lsh_topk(spark, sf_dir):
    # Random-hyperplane LSH ANN, VALUE-HASH-CHECKED (round 12 — the
    # 4th pinned-parameter twin, converted in place like sim_ivf_topk;
    # was rows-only since r6 because bucket membership depended on a
    # float-hyperplane PRNG): integer micro-grid vectors, md5-derived
    # integer plane components in [-8, 8], sign-bit signatures,
    # any-table collision candidates, exact integer-dot re-rank with
    # id tie-break. DuckDB rebuilds planes/signatures/collisions from
    # its own md5() and must land the identical top-k rows — bucket
    # membership itself is graded, not just recall. lsh_topk (float
    # hyperplanes, cosine re-rank) stays the scale default; its
    # recall is pytest-asserted (tests/test_similarity.py).
    emb = _emb_double(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.lsh_topk_exact(
        emb, queries, k=5, nbits=6, num_tables=8
    )


@register(
    "sim_ivf_topk",
    oracle="""WITH g AS (SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5)
                              AS BIGINT)) AS gv
           FROM embeddings),
     cent AS (SELECT * FROM (
                SELECT vec_id, gv,
                       ROW_NUMBER() OVER (
                         ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cidx
                FROM g) WHERE cidx < 16),
     cx AS (SELECT cidx, generate_subscripts(gv, 1) AS d,
                   unnest(gv) AS val FROM cent),
     vx AS (SELECT vec_id, generate_subscripts(gv, 1) AS d,
                   unnest(gv) AS val FROM g),
     d2 AS (SELECT vx.vec_id, cx.cidx,
                   SUM((vx.val - cx.val) * (vx.val - cx.val)) AS dist
            FROM vx JOIN cx ON cx.d = vx.d
            GROUP BY 1, 2),
     cells AS (SELECT vec_id, cidx AS cell FROM (
                 SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY dist, cidx) AS rn
                 FROM d2) WHERE rn = 1),
     probes AS (SELECT vec_id AS query_id, cidx AS cell FROM (
                  SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY vec_id ORDER BY dist, cidx) AS rn
                  FROM d2 WHERE vec_id < 10) WHERE rn <= 6),
     scored AS (SELECT p.query_id, c.vec_id AS neighbor_id, c.cell,
                       CAST(list_dot_product(q.gv, v.gv) AS BIGINT)
                         AS dot_g
                FROM probes p
                JOIN cells c ON c.cell = p.cell
                JOIN g v ON v.vec_id = c.vec_id
                JOIN g q ON q.vec_id = p.query_id
                WHERE c.vec_id <> p.query_id)
SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank, dot_g, cell
FROM (SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY dot_g DESC, neighbor_id ASC) AS rn
      FROM scored)
WHERE rn <= 5""",
    tags=("similarity", "ivf", "pandas_udf"),
)
def sim_ivf_topk(spark, sf_dir):
    # IVF(Flat) ANN, VALUE-HASH-CHECKED: the pinned-parameter twin
    # (pq_topk_exact's pattern) — integer micro-grid, iters=0
    # md5-ordered centroid seed, (distance, index)-total-ordered
    # assignment and probing, exact integer-dot re-rank of only the
    # probed cells. DuckDB rebuilds the same centroids, cells, and
    # probes and must land the identical top-k. ivf_topk (learned
    # Lloyd centroids, cosine ranking) stays the scale default; its
    # recall is pytest-asserted in test_similarity.py.
    emb = _emb_double(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_topk_exact(
        emb, queries, k=5, nlist=16, nprobe=6
    )


_NEARDUP_SQL = f"""WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings WHERE vec_id % 10 = 0),
p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cos_sql('a.emb', 'b.emb')} AS cos
      FROM e a, e b WHERE a.vec_id < b.vec_id)
SELECT id_a, id_b, cos FROM p WHERE cos >= 0.9"""


@register("embedding_cosine_neardup", oracle=_NEARDUP_SQL, tags=("similarity", "dedup"))
def embedding_cosine_neardup(spark, sf_dir):
    e = _emb_double(spark, sf_dir).filter(F.col("vec_id") % 10 == 0)
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("u"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("v"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", similarity.cosine(F.col("u"), F.col("v")).alias("cos")
    )
    return pairs.filter(F.col("cos") >= 0.9)


_NEARDUP_LSH_SQL = f"""WITH g AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5)
                     AS BIGINT)) AS gv,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings),
planes AS (
  SELECT t.t, b.b, d.d,
         (CAST(('0x' || substr(md5(CAST(t.t AS VARCHAR) || ',' ||
                                   CAST(b.b AS VARCHAR) || ',' ||
                                   CAST(d.d AS VARCHAR)), 1, 4))
               AS BIGINT) % 17) - 8 AS w
  FROM range(8) t(t), range(4) b(b), range(64) d(d)),
vx AS (SELECT vec_id, generate_subscripts(gv, 1) - 1 AS d,
              unnest(gv) AS val FROM g),
bits AS (
  SELECT v.vec_id, p.t, p.b,
         CASE WHEN SUM(v.val * p.w) >= 0 THEN 1 ELSE 0 END AS bit
  FROM vx v JOIN planes p ON p.d = v.d
  GROUP BY 1, 2, 3),
sigs AS (SELECT vec_id, t,
                CAST(SUM(bit * (CAST(1 AS BIGINT) << b)) AS BIGINT)
                    AS sig
         FROM bits GROUP BY 1, 2),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM sigs a JOIN sigs b ON b.t = a.t AND b.sig = a.sig
         WHERE a.vec_id < b.vec_id),
scored AS (SELECT cand.id_a, cand.id_b,
                  {_cos_sql('ga.emb', 'gb.emb')} AS cos
           FROM cand
           JOIN g ga ON ga.vec_id = cand.id_a
           JOIN g gb ON gb.vec_id = cand.id_b)
SELECT id_a, id_b, cos FROM scored WHERE cos >= 0.45"""


@register(
    "embedding_neardup_lsh",
    oracle=_NEARDUP_LSH_SQL,
    tags=("similarity", "dedup", "lsh", "pandas_udf"),
)
def embedding_neardup_lsh(spark, sf_dir):
    # The scale path for near-dup pairs, VALUE-HASH-CHECKED (round 12
    # — 5th pinned twin, converted in place; was rows-only since r6):
    # bucket-join candidates from the md5 integer hyperplanes (never
    # all-pairs; bucket membership replays verbatim in DuckDB), exact
    # sequential-fold cosine verify on candidates only (bit-equal to
    # _cos_sql — embedding_cosine_neardup's proven convention), so the
    # threshold cut selects the identical pair set. This corpus's
    # closest pairs sit at cos ~0.5 (no planted near-identicals), so
    # the threshold targets that neighborhood and nbits is low —
    # wide-angle pairs need coarse buckets. lsh_neardup_pairs (float
    # hyperplanes) stays the scale default; pytest asserts it recovers
    # the brute-force pairs' majority.
    return similarity.lsh_neardup_pairs_exact(
        _emb_double(spark, sf_dir), threshold=0.45, nbits=4, num_tables=8
    )


@register(
    "dedup_semantic",
    # DuckDB replay of the ENTIRE pinned SemDeDup pipeline: the
    # sim_ivf_topk centroid/cell CTEs (integer grid, md5-seeded
    # centroids, (dist, idx)-ordered assignment) feed a within-cell
    # earlier-member pair join whose per-pair cosine is exact-input
    # IEEE (int dots, sqrt, one divide, one multiply) floored to
    # micro-units; MAX + threshold gives the keep verdict.
    oracle="""WITH g AS (SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5)
                              AS BIGINT)) AS gv
           FROM embeddings),
     cent AS (SELECT * FROM (
                SELECT vec_id, gv,
                       ROW_NUMBER() OVER (
                         ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cidx
                FROM g) WHERE cidx < 16),
     cx AS (SELECT cidx, generate_subscripts(gv, 1) AS d,
                   unnest(gv) AS val FROM cent),
     vx AS (SELECT vec_id, generate_subscripts(gv, 1) AS d,
                   unnest(gv) AS val FROM g),
     d2 AS (SELECT vx.vec_id, cx.cidx,
                   SUM((vx.val - cx.val) * (vx.val - cx.val)) AS dist
            FROM vx JOIN cx ON cx.d = vx.d
            GROUP BY 1, 2),
     cells AS (SELECT vec_id, cidx AS cell FROM (
                 SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY dist, cidx) AS rn
                 FROM d2) WHERE rn = 1),
     pairs AS (SELECT a.vec_id AS id,
                      FLOOR(CAST(list_dot_product(ga.gv, gb.gv)
                                 AS DOUBLE)
                            / (sqrt(CAST(list_dot_product(ga.gv, ga.gv)
                                         AS DOUBLE))
                               * sqrt(CAST(list_dot_product(gb.gv, gb.gv)
                                           AS DOUBLE)))
                            * 1000000.0) AS c_e6
               FROM cells a JOIN cells b
                 ON a.cell = b.cell AND b.vec_id < a.vec_id
               JOIN g ga ON ga.vec_id = a.vec_id
               JOIN g gb ON gb.vec_id = b.vec_id),
     mx AS (SELECT id, CAST(MAX(c_e6) AS BIGINT) AS max_cos_e6
            FROM pairs GROUP BY id)
    SELECT c.vec_id AS id, c.cell,
           COALESCE(m.max_cos_e6, -1000000) < 950000 AS keep,
           COALESCE(m.max_cos_e6, -1000000) AS max_cos_e6
    FROM cells c LEFT JOIN mx m ON m.id = c.vec_id""",
    tags=("similarity", "dedup", "semantic", "pandas_udf"),
)
def dedup_semantic(spark, sf_dir):
    # SemDeDup (arXiv:2303.09540): cluster the embeddings, then greedy
    # within-cluster cosine pruning — drops documents that are
    # *semantically* redundant even when no exact/minhash pass fires.
    # VALUE-HASH-CHECKED (r13 conversion, was rows-only — the 8th
    # pinned twin): similarity.semantic_dedup_exact runs the
    # ivf_topk_exact centroid recipe plus a micro-unit prune lattice,
    # so cluster membership AND every keep verdict grade by value.
    # The learned-centroid float semantic_dedup stays the serving
    # default; planted-redundancy survivor tests remain in
    # tests/test_similarity.py. Every corpus row comes back
    # classified, so the row count is the corpus size.
    return similarity.semantic_dedup_exact(
        _emb_double(spark, sf_dir), threshold_e6=950_000, nlist=16
    )


def _pca_oracle(iters: int = 6, q: int = 10_000, grid: int = 1000,
                dim: int = 64) -> str:
    """DuckDB replay of the integer-lattice power iteration: grid
    vectors, all-q start, per-round exact integer s/y aggregations,
    HUGEINT-widened truncating renormalization — every round an
    unrolled CTE pair (power_iteration_pc1_exact term for term)."""
    rounds = []
    for t in range(1, iters + 1):
        prev = f"x{t - 1}"
        rounds.append(f"""s{t} AS (
                 SELECT vx.vec_id, SUM(vx.val * x.xv) AS s
                 FROM vx JOIN {prev} x ON x.d = vx.d GROUP BY 1),
               y{t} AS (
                 SELECT vx.d, CAST(SUM(s.s * vx.val) AS BIGINT) AS y
                 FROM vx JOIN s{t} s ON s.vec_id = vx.vec_id
                 GROUP BY 1),
               m{t} AS (SELECT MAX(ABS(y)) AS mx FROM y{t}),
               x{t} AS (SELECT d,
                               CAST((CAST(y AS HUGEINT) * {q}) // mx
                                    AS BIGINT) AS xv
                        FROM y{t}, m{t})""")
    return f"""WITH g AS (SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(FLOOR(CAST(x AS DOUBLE) * {grid} + 0.5)
                              AS BIGINT)) AS gv
           FROM embeddings),
         vx AS (SELECT vec_id, generate_subscripts(gv, 1) AS d,
                       unnest(gv) AS val FROM g),
         x0 AS (SELECT unnest(range(1, {dim + 1})) AS d,
                       CAST({q} AS BIGINT) AS xv),
         {', '.join(rounds)}
    SELECT CAST(d - 1 AS INTEGER) AS pos, xv AS loading_q
    FROM x{iters}"""


@register(
    "embedding_pca_pc1",
    oracle=_pca_oracle(),
    tags=("similarity", "pca"),
)
def embedding_pca_pc1(spark, sf_dir):
    # First principal component by distributed power iteration,
    # VALUE-HASH-CHECKED (r13 conversion, was rows-only — the 9th
    # pinned twin): the covariance matrix never exists; each step is
    # a codegen dot product + one map-side-combined (pos, partial)
    # shuffle, run on the integer lattice so the oracle unrolls all 6
    # rounds exactly (power_iteration_pc1_exact). The centered float
    # twin (power_iteration_pc1) stays the serving default, with its
    # numpy-eigh differential tests in tests/test_similarity.py.
    comp = similarity.power_iteration_pc1_exact(
        _emb_double(spark, sf_dir), iters=6
    )
    return spark.createDataFrame(
        [(i, int(c)) for i, c in enumerate(comp)],
        "pos int, loading_q long",
    )


# --------------------------------------------------------------------------
# End-to-end training-data pipeline: quality filter -> language filter
# -> exact dedup (min-id survivor) -> stats. The composition every
# 100 TB corpus-cleaning job runs, as ONE lazy plan (scan-fused
# filters, one window for survivor selection), with a full oracle.
# --------------------------------------------------------------------------
_PIPELINE_SQL = f"""WITH s AS (
  SELECT doc_id, text,
         {_QUALITY_SQL} AS quality,
         {_LANG_CASE} AS lang_pred,
         CAST(len(regexp_extract_all(text, '\\S+')) AS INTEGER) AS n_tokens
  FROM documents),
f AS (SELECT * FROM s WHERE quality >= 0.5 AND lang_pred = 'en'),
k AS (SELECT doc_id, n_tokens, quality,
             MIN(doc_id) OVER (PARTITION BY md5(trim(text))) AS keep
      FROM f)
SELECT doc_id, n_tokens, quality FROM k WHERE doc_id = keep"""


@register("pipeline_clean_corpus", oracle=_PIPELINE_SQL, tags=("pipeline", "dedup", "text"))
def pipeline_clean_corpus(spark, sf_dir):
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    enriched = docs.select(
        "doc_id",
        "text",
        text.quality_score(F.col("text")).alias("quality"),
        text.language_id(F.col("text")).alias("lang_pred"),
        text.token_count(F.col("text")).alias("n_tokens"),
    )
    filt = enriched.filter((F.col("quality") >= 0.5) & (F.col("lang_pred") == "en"))
    w = Window.partitionBy(F.md5(F.encode(F.trim(F.col("text")), "UTF-8")))
    kept = filt.withColumn("__keep", F.min("doc_id").over(w)).filter(
        F.col("doc_id") == F.col("__keep")
    )
    return kept.select("doc_id", "n_tokens", "quality")


# --------------------------------------------------------------------------
# Multimodal columns
# --------------------------------------------------------------------------
@register(
    "multimodal_meta",
    oracle="""SELECT doc_id, 'blob' AS kind,
                     CAST(strlen(text) AS INTEGER) AS byte_len,
                     sha256(text) AS sha256
              FROM documents""",
    tags=("multimodal",),
)
def multimodal_meta(spark, sf_dir):
    mm = multimodal.attach_binary(_docs(spark, sf_dir), F.col("text"))
    return mm.select(
        "doc_id",
        F.col("meta.kind").alias("kind"),
        F.col("meta.byte_len").alias("byte_len"),
        F.col("meta.sha256").alias("sha256"),
    )


@register(
    "multimodal_features",
    # DuckDB replay of the byte-fold feature extractor from document
    # characters (ASCII fixture: codepoint == payload byte, the
    # multimodal_pcm_energy contract): the incremental
    # ``acc = (acc + b) % 997`` fold is a MODULAR SUM per position
    # class — order-free exact integer math — and the final /997.0 is
    # one IEEE division on both engines. Docs contribute all 8 buckets
    # even when empty (zero-fill via the grid LEFT JOIN, matching the
    # Python [0]*dim initial accumulator).
    oracle="""WITH chars AS (
                SELECT doc_id,
                       generate_subscripts(string_split(text, ''), 1) - 1
                         AS pos,
                       unnest([unicode(ch)
                               for ch in string_split(text, '')]) AS cp
                FROM documents),
         sums AS (SELECT doc_id, CAST(pos % 8 AS INTEGER) AS p,
                         CAST(SUM(cp) % 997 AS BIGINT) AS m
                  FROM chars WHERE cp >= 0 GROUP BY 1, 2),
         grid AS (SELECT d.doc_id, length(d.text) AS byte_len, pp.p
                  FROM documents d,
                       (SELECT CAST(unnest(range(8)) AS INTEGER) AS p)
                         pp)
    SELECT g.doc_id, CAST(g.byte_len AS BIGINT) AS byte_len,
           g.p AS pos,
           COALESCE(s.m, 0) / 997.0 AS fval
    FROM grid g LEFT JOIN sums s
      ON s.doc_id = g.doc_id AND s.p = g.p""",
    tags=("multimodal", "pandas_udf"),
)
def multimodal_features(spark, sf_dir):
    # mapInPandas feature extraction, VALUE-HASH-CHECKED (r13
    # conversion, was rows-only): the deterministic byte-fold feature
    # vector is a pure modular sum per position class, so the oracle
    # replays every component exactly; the row presents the vector
    # RELATIONALLY (posexplode) so the driver hashes scalar cells.
    # Shape/stability stay pytest-asserted.
    mm = multimodal.attach_binary(_docs(spark, sf_dir), F.col("text"))
    out = multimodal.extract_features(mm)
    return out.select(
        "doc_id", "byte_len",
        F.posexplode("feature").alias("pos", "fval"),
    )


@register(
    "multimodal_decode_real",
    # DuckDB replay of the REAL decode -> mean-pool path from the
    # document characters (ASCII contract): pixel k's integer
    # 3-channel sum is the sum of payload bytes 3k..3k+2 ('x'=120
    # pads), the dim=8 pool bucket of 16 pixels is (k*8)//16 = k//2,
    # and the (sum, count) integer pair per bucket is order-free
    # exact — the float ratio twin keeps its thirds, the graded
    # contract doesn't need them.
    oracle="""WITH t AS (SELECT doc_id, substr(text, 1, 48) AS s
                         FROM documents),
         pix AS (
           SELECT t.doc_id, kk.k,
                  (CASE WHEN length(s) >= 3*kk.k + 1
                        THEN unicode(substr(s, 3*kk.k + 1, 1))
                        ELSE 120 END
                 + CASE WHEN length(s) >= 3*kk.k + 2
                        THEN unicode(substr(s, 3*kk.k + 2, 1))
                        ELSE 120 END
                 + CASE WHEN length(s) >= 3*kk.k + 3
                        THEN unicode(substr(s, 3*kk.k + 3, 1))
                        ELSE 120 END) AS s3
           FROM t, (SELECT unnest(range(16)) AS k) kk)
    SELECT doc_id, CAST((k * 8) // 16 AS INTEGER) AS pos,
           CAST(SUM(s3) AS BIGINT) AS s3_sum,
           COUNT(*) AS n_px
    FROM pix GROUP BY 1, 2""",
    tags=("multimodal", "pandas_udf", "decode"),
)
def multimodal_decode_real(spark, sf_dir):
    # REAL image decode end-to-end, VALUE-HASH-CHECKED (r13
    # conversion, was rows-only): each doc's text is packaged as a
    # raw 4x4 P6 PPM payload (header + first 48 bytes, right-padded)
    # using only JVM built-ins, then multimodal.image_pooled_intensity
    # runs the actual netpbm decoder inside mapInPandas and pools the
    # integer 3-channel pixel sums — the multimodal_pcm_energy trade:
    # the graded row selects the integer (sum, count) contract while
    # extract_features(use_stub=False) keeps the float features for
    # consumers. Decoder pixel-correctness stays asserted in
    # tests/test_multimodal_decode.py.
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.encode(F.lit("P6 4 4 255\n"), "UTF-8"),
            # byte-level slice+pad (BINARY substring/rpad): exactly 48
            # pixel bytes even for multi-byte UTF-8 text
            F.rpad(
                F.substring(F.encode(F.col("text"), "UTF-8"), 1, 48),
                48,
                F.lit(b"x"),
            ),
        ).alias("payload"),
    )
    return multimodal.image_pooled_intensity(docs, dim=8)


@register(
    "multimodal_frame_sample",
    oracle="""SELECT doc_id, CAST(f AS INTEGER) AS frame_idx
              FROM documents,
                   unnest(generate_series(0, CAST(strlen(text) AS INTEGER) % 120)) AS t(f)
              WHERE f % 10 = 0""",
    tags=("multimodal",),
)
def multimodal_frame_sample(spark, sf_dir):
    mm = multimodal.attach_binary(_docs(spark, sf_dir), F.col("text"))
    return multimodal.frame_sample_plan(mm).select("doc_id", "frame_idx")


@register(
    "pandas_zscore_by_type",
    oracle="""WITH g AS (
                SELECT event_id, event_type, value,
                       CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS s,
                       CAST(SUM(CAST(round(value * 100) AS BIGINT)
                                * CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS ss,
                       COUNT(*) OVER w AS n
                FROM events WINDOW w AS (PARTITION BY event_type))
              SELECT event_id, event_type, value,
                     (value - (s / 100.0) / n)
                       / sqrt(((ss / 10000.0) - (s / 100.0) * (s / 100.0) / n) / (n - 1)) AS z
              FROM g""",
    tags=("pandas_udf", "groupby"),
)
def pandas_zscore_by_type(spark, sf_dir):
    # Grouped-map applyInPandas with an exact oracle: the pandas side
    # computes the same int64-cent moments and double arithmetic the
    # SQL window plan does (see functions/pandas_ops.py).
    from ..functions.pandas_ops import zscore_by_group

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return zscore_by_group(ev, "event_type", "value", keep_cols=["event_id"])


@register(
    "corpus_sample_10pct",
    oracle="""SELECT doc_id, lang, source
              FROM documents
              WHERE substr(md5(CAST(doc_id AS VARCHAR) || '|s0'), 1, 4) < '1999'""",
    tags=("sampling",),
)
def corpus_sample_10pct(spark, sf_dir):
    # Deterministic 10% corpus sample: partitioning-independent
    # md5-prefix rule, identical in both engines — an exactly
    # oracle-checked SAMPLER (0.1 * 2^16 = 0x1999).
    from ..functions.sampling import deterministic_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return deterministic_sample(docs, frac=0.1)


@register(
    "pack_sequences_2k",
    oracle=r"""WITH RECURSIVE t AS (
                 SELECT source, doc_id,
                        CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)
                          AS n_tokens
                 FROM documents),
                   r AS (SELECT source, doc_id, n_tokens,
                           ROW_NUMBER() OVER (PARTITION BY source
                                              ORDER BY doc_id) AS rn
                         FROM t),
                   walk AS (
                 SELECT source, rn, doc_id, n_tokens,
                        CAST(0 AS BIGINT) AS bin_id, n_tokens AS running
                 FROM r WHERE rn = 1
                 UNION ALL
                 SELECT r.source, r.rn, r.doc_id, r.n_tokens,
                        CASE WHEN w.running + r.n_tokens > 2048
                             THEN w.bin_id + 1 ELSE w.bin_id END,
                        CASE WHEN w.running + r.n_tokens > 2048
                             THEN r.n_tokens
                             ELSE w.running + r.n_tokens END
                 FROM walk w JOIN r
                   ON r.source = w.source AND r.rn = w.rn + 1)
              SELECT source, doc_id, n_tokens, bin_id,
                     MAX(running) OVER (PARTITION BY source, bin_id)
                       AS bin_tokens
              FROM walk""",
    # NOT tagged 'recursive': that family is the engine's own
    # recursive-CTE surface (queries/recursive_sql.py); only the
    # ORACLE here recurses.
    tags=("pandas_udf", "packing"),
)
def pack_sequences_2k(spark, sf_dir):
    # Sequence packing for pretraining: greedy close-when-full token
    # binning per source. The grouped-map pandas recursion (a running
    # total that RESETS on overflow is not a window function) is
    # exactly restated as a DuckDB RECURSIVE CTE walking each source's
    # id-ordered rows — one frontier row per source per step, so the
    # oracle's work is groups x max-rows, trivial at oracle scale —
    # making every column (bin assignment AND bin totals) value-hash
    # checked, not just the packing invariants.
    from ..functions.pandas_ops import pack_sequences

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", text.token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    return pack_sequences(docs, budget=2048)


_SCRUB_SQL = r"""SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(
        regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        'https?://[^\s]+', '<URL>', 'g'),
      '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
    '\+?[0-9][0-9()\-\s]{7,}[0-9]', '<PHONE>', 'g') AS scrubbed,
  CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS INTEGER) AS n_urls,
  CAST(len(regexp_extract_all(text,
       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails
FROM documents"""


@register("text_scrub_pii", oracle=_SCRUB_SQL, tags=("text", "pii"))
def text_scrub_pii(spark, sf_dir):
    # Chained regexp_replace (RE2-compatible patterns run identically in
    # Spark's Java regex and DuckDB's RE2) + per-doc URL/email counts.
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        text.scrub_pii(F.col("text")).alias("scrubbed"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(r"https?://[^\s]+"), F.lit(0))
        ).alias("n_urls"),
        F.size(
            F.regexp_extract_all(
                F.col("text"),
                F.lit(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
                F.lit(0),
            )
        ).alias("n_emails"),
    )


@register(
    "text_token_topk",
    oracle=r"""WITH t AS (
                 SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
                 FROM documents)
               SELECT tok, COUNT(*) AS n FROM t
               GROUP BY tok ORDER BY n DESC, tok ASC LIMIT 20""",
    tags=("text", "explode", "topk"),
)
def text_token_topk(spark, sf_dir):
    # Generator surface (explode ≡ LATERAL unnest): classic corpus
    # word count -> global top-k with deterministic tie-break. The
    # aggregate is map-side partial on the exploded tokens, and the
    # final ORDER BY+LIMIT collapses to TakeOrderedAndProject.
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok")
    )
    return (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(20)
    )


# --------------------------------------------------------------------------
# TF-IDF + vector centroids (functions/text.py, functions/vectors.py)
# --------------------------------------------------------------------------
@register(
    "text_tfidf_topk",
    oracle=r"""WITH toks AS (
                 SELECT doc_id,
                        unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
                 FROM documents),
                   tf AS (SELECT doc_id, term, COUNT(*) AS tf
                          FROM toks WHERE term <> '' GROUP BY 1, 2),
                   df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
                   n AS (SELECT COUNT(*) AS n_docs FROM documents),
                   scored AS (
                 SELECT tf.doc_id, tf.term, tf.tf, df.df,
                        tf.tf * ln(CAST(n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) AS score
                 FROM tf JOIN df USING (term) CROSS JOIN n),
                   ranked AS (
                 SELECT doc_id, term, tf, df,
                        CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                             ORDER BY score DESC, term ASC) AS INTEGER) AS rk
                 FROM scored)
              SELECT doc_id, term, tf, df, rk FROM ranked WHERE rk <= 3""",
    tags=("text", "tfidf"),
)
def text_tfidf_topk(spark, sf_dir):
    return text.tfidf_top_terms(_docs(spark, sf_dir), k=3)


@register(
    "vector_centroids",
    oracle="""WITH e AS (SELECT label,
                     generate_subscripts(embedding, 1) - 1 AS pos,
                     unnest(embedding) AS val
                     FROM embeddings)
              SELECT label, CAST(pos AS INTEGER) AS pos,
                     CAST(SUM(CAST(FLOOR(CAST(val AS DOUBLE) * 1000000.0)
                                   AS BIGINT)) AS BIGINT) AS sum_scaled,
                     COUNT(*) AS n
              FROM e GROUP BY 1, 2""",
    tags=("vectors", "centroid"),
)
def vector_centroids(spark, sf_dir):
    # Registered as the exact quantized form (see functions/vectors.py
    # float-sum caveat); the natural double `centroids` is numpy-tested.
    from ..functions import vectors

    emb = load_table(spark, sf_dir, "embeddings")
    return vectors.quantized_centroid_sums(emb)


# --------------------------------------------------------------------------
# Corpus-quality depth: repetition signals, decontamination, chunking
# --------------------------------------------------------------------------
@register(
    "text_repetition_stats",
    oracle=r"""WITH toks AS (
                 SELECT doc_id,
                        unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
                 FROM documents),
                   tc AS (SELECT doc_id, term, COUNT(*) AS c
                          FROM toks WHERE term <> '' GROUP BY 1, 2),
                   ts AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                                 MAX(c) AS max_c,
                                 SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_c
                          FROM tc GROUP BY 1),
                   w AS (SELECT doc_id,
                                regexp_split_to_array(lower(trim(text)), '\s+') AS w
                         FROM documents),
                   bgl AS (SELECT doc_id,
                                  unnest([array_to_string(w[i:i+1], ' ')
                                          for i in generate_series(1, len(w)-1)]) AS bg
                           FROM w WHERE len(w) >= 2),
                   bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bgl GROUP BY 1, 2),
                   bs AS (SELECT doc_id, SUM(c) AS n_bg, MAX(c) AS max_bg
                          FROM bc GROUP BY 1)
              SELECT ts.doc_id, ts.n_tokens,
                     CAST(ts.max_c AS DOUBLE) / ts.n_tokens AS top_token_frac,
                     CAST(bs.max_bg AS DOUBLE) / bs.n_bg AS top_bigram_frac,
                     CAST(ts.dup_c AS DOUBLE) / ts.n_tokens AS dup_token_frac
              FROM ts LEFT JOIN bs USING (doc_id)""",
    tags=("text", "quality", "repetition"),
)
def text_repetition_stats(spark, sf_dir):
    return text.repetition_stats(_docs(spark, sf_dir))


@register(
    "decontaminate_vs_benchmark",
    oracle=r"""WITH w AS (SELECT doc_id,
                      regexp_split_to_array(lower(trim(text)), '\s+') AS w
                      FROM documents),
                   sh AS (SELECT doc_id,
                                 unnest(list_distinct(
                                   [array_to_string(w[i:i+7], ' ')
                                    for i in generate_series(1, len(w)-7)])) AS shingle
                          FROM w WHERE len(w) >= 8),
                   bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 101 = 0),
                   corp AS (SELECT * FROM sh WHERE doc_id % 101 <> 0),
                   hits AS (SELECT doc_id, COUNT(*) AS n_hits
                            FROM corp JOIN bench USING (shingle) GROUP BY 1),
                   nd AS (SELECT doc_id, COUNT(*) AS nd FROM corp GROUP BY 1),
                   nb AS (SELECT COUNT(*) AS nb FROM bench)
              SELECT doc_id, n_hits,
                     CAST(FLOOR(1000000 * n_hits / (nd + nb - n_hits))
                          AS BIGINT) AS jacc_e6
              FROM hits JOIN nd USING (doc_id) CROSS JOIN nb""",
    tags=("dedup", "decontamination", "jaccard", "ngram"),
)
def decontaminate_vs_benchmark(spark, sf_dir):
    # Benchmark = every 101st doc standing in for a held-out eval set;
    # flags the rest of the corpus on any verbatim 8-gram overlap, and
    # scores each flagged doc's JACCARD coefficient against the pooled
    # benchmark shingle set (integer micro-units — exact on both
    # engines), so triage can separate one-phrase echoes from
    # wholesale copies.
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 101 == 0)
    corpus = docs.filter(F.col("doc_id") % 101 != 0)
    return dedup.decontaminate(corpus, bench, n=8, jaccard=True)


@register(
    "chunk_documents_32",
    oracle=r"""WITH w AS (SELECT doc_id,
                      regexp_split_to_array(lower(trim(text)), '\s+') AS w
                      FROM documents),
                   s AS (SELECT doc_id, w,
                                unnest(generate_series(1, greatest(len(w), 1), 24)) AS start,
                                generate_subscripts(
                                  generate_series(1, greatest(len(w), 1), 24), 1) - 1
                                  AS chunk_idx
                         FROM w)
              SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
                     CAST(len(w[start:start+31]) AS INTEGER) AS n_tokens,
                     array_to_string(w[start:start+31], ' ') AS chunk_text
              FROM s""",
    tags=("text", "chunking"),
)
def chunk_documents_32(spark, sf_dir):
    return text.chunk_documents(_docs(spark, sf_dir), chunk_tokens=32, overlap=8)


# --------------------------------------------------------------------------
# UDAF / UDTF extension points (SURVEY §2.3 UDF/UDAF/UDTF row)
# --------------------------------------------------------------------------
@register(
    "udaf_weighted_mean",
    oracle="""SELECT l_returnflag,
                     CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                              * CAST(l_quantity AS BIGINT)) AS DOUBLE)
                     / CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
                     / 100 AS wmean_price
              FROM lineitem GROUP BY l_returnflag""",
    tags=("pandas_udf", "udaf", "aggregate"),
)
def udaf_weighted_mean(spark, sf_dir):
    # The pandas GROUPED_AGG UDAF fed integer cents and integer
    # quantities: both sums are exact int64 (order-independent, unlike
    # float sums), and the single int/int -> float64 division at the
    # end is the same IEEE operation DuckDB performs casting its exact
    # HUGEINT sums to DOUBLE — so the Python aggregate is value-hash
    # comparable, not just rows-only.
    from ..functions.pandas_ops import weighted_mean_by_group

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias(
            "price_cents"
        ),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    r = weighted_mean_by_group(li, "l_returnflag", "price_cents", "qty")
    return r.select(
        "l_returnflag",
        (F.col("weighted_mean") / 100).alias("wmean_price"),
    )


@register(
    "udtf_sentences",
    oracle="""WITH s AS (SELECT doc_id,
                      generate_subscripts(str_split(text, '. '), 1) - 1
                        AS sent_idx,
                      unnest(str_split(text, '. ')) AS raw
               FROM documents WHERE text IS NOT NULL)
              SELECT doc_id, CAST(sent_idx AS INTEGER) AS sent_idx,
                     trim(raw, ' ' || chr(9) || chr(10) || chr(13))
                       AS sentence
              FROM s
              WHERE trim(raw, ' ' || chr(9) || chr(10) || chr(13)) <> ''""",
    tags=("pandas_udf", "udtf", "text"),
)
def udtf_sentences(spark, sf_dir):
    # Python UDTF via LATERAL join. The oracle restates the exact UDTF
    # contract declaratively: literal '. ' split, 0-based index over
    # ALL raw segments (empties keep their slot), whitespace-stripped,
    # empty segments dropped — so the Python table function is
    # value-hash comparable, not just rows-only. Equivalence to the
    # JVM generator path is also pytest-asserted
    # (test_sentence_udtf_matches_explode).
    from ..catalog import run_sql
    from ..functions.text import sentence_udtf

    spark.udtf.register("split_sentences", sentence_udtf())
    return run_sql(
        spark,
        sf_dir,
        "SELECT d.doc_id, s.sent_idx, s.sentence "
        "FROM documents d, LATERAL split_sentences(d.text) s",
    )


@register(
    "dedup_fuzzy_names",
    oracle="""WITH c AS (SELECT c_custkey, c_name FROM customer
                         WHERE c_custkey < 500)
              SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                     CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
              FROM c a JOIN c b
                ON a.c_custkey < b.c_custkey
               AND abs(length(a.c_name) - length(b.c_name)) <= 1
              WHERE levenshtein(a.c_name, b.c_name) <= 1""",
    tags=("dedup", "fuzzy", "join"),
)
def dedup_fuzzy_names(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") < 500
    )
    return dedup.fuzzy_pairs(cust, "c_custkey", "c_name", max_dist=1)


@register(
    "dedup_jw_fuzzy_parts",
    oracle="""WITH p AS (SELECT p_partkey, p_name, p_brand FROM part)
              SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
                     CAST(ROUND(jaro_winkler_similarity(a.p_name, b.p_name)
                                * 1000000) AS BIGINT) AS jw_e6
              FROM p a JOIN p b
                ON a.p_brand = b.p_brand
               AND substr(a.p_name, 1, 4) = substr(b.p_name, 1, 4)
               AND a.p_partkey < b.p_partkey
              WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.87""",
    tags=("dedup", "fuzzy", "join", "pandas_udf"),
)
def dedup_jw_fuzzy_parts(spark, sf_dir):
    # Jaro-Winkler entity resolution (functions/dedup.py
    # jw_fuzzy_pairs): COMPOSITE-blocked candidate join (brand + name
    # 4-prefix — a brand alone is 25 fixed values, so its block size
    # grows linearly with data and the in-block scoring is quadratic;
    # the prefix component bounds it) + Arrow-batched pandas-UDF
    # scorer implementing the exact textbook JW (0.7 boost threshold,
    # p=0.1) that DuckDB's jaro_winkler_similarity also uses — the
    # 1e6-quantized score value-hashes across engines, so the metric
    # itself is graded, not just pair counts. The oracle applies the
    # SAME composite block: cross-prefix pairs are out of scope on
    # both sides (the documented ER recall/cost bargain).
    part = load_table(spark, sf_dir, "part")
    return dedup.jw_fuzzy_pairs(
        part,
        "p_partkey",
        "p_name",
        ["p_brand", F.substring("p_name", 1, 4)],
        threshold=0.87,
    )


@register(
    "er_resolve_parts",
    oracle="""WITH RECURSIVE p AS (
                SELECT p_partkey, p_name, p_brand FROM part),
              pairs AS (
                SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
                FROM p a JOIN p b
                  ON a.p_brand = b.p_brand
                 AND substr(a.p_name, 1, 8) = substr(b.p_name, 1, 8)
                 AND a.p_partkey < b.p_partkey
                WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.94),
              nodes AS (SELECT id_a AS id FROM pairs
                        UNION SELECT id_b FROM pairs),
              edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                        UNION SELECT id_b AS u, id_a AS v FROM pairs),
              cc(id, lbl) AS (
                SELECT id, id FROM nodes
                UNION
                SELECT e.u, cc.lbl FROM edges e JOIN cc ON cc.id = e.v),
              lbl AS (SELECT id, MIN(lbl) AS cluster_id
                      FROM cc GROUP BY id)
              SELECT cluster_id,
                     MIN(id) AS canonical_id,
                     COUNT(*) AS n_members
              FROM lbl GROUP BY cluster_id""",
    tags=("dedup", "fuzzy", "clustering", "pipeline", "pandas_udf"),
)
def er_resolve_parts(spark, sf_dir):
    # Entity resolution END-TO-END: composite-blocked (brand + name
    # 8-prefix — bounded block size; see dedup_jw_fuzzy_parts for why
    # a bare brand key dies at scale) Jaro-Winkler scoring (>= 0.94),
    # connected components over the match pairs, one canonical id per
    # entity cluster (min id — the deterministic survivor policy) with
    # member counts. The oracle replays the same metric (DuckDB's
    # jaro_winkler_similarity) under the SAME composite block and
    # closes the same graph with a recursive CTE — the whole
    # block -> score -> cluster -> survive pipeline is value-hashed,
    # not just the pair stage.
    part = load_table(spark, sf_dir, "part")
    pairs = dedup.jw_fuzzy_pairs(
        part,
        "p_partkey",
        "p_name",
        ["p_brand", F.substring("p_name", 1, 8)],
        threshold=0.94,
    )
    clusters = dedup.duplicate_clusters(pairs.select("id_a", "id_b"))
    return clusters.groupBy("cluster_id").agg(
        F.min("id").alias("canonical_id"),
        F.count(F.lit(1)).alias("n_members"),
    )


@register(
    "surrogate_keys_dense_check",
    oracle="""SELECT COUNT(*) AS n, COUNT(*) AS n_distinct,
                     CAST(0 AS BIGINT) AS lo, COUNT(*) - 1 AS hi
              FROM lineitem""",
    # 'profiling': the check IS a profile pass — count / distinct /
    # min / max over the generated key column, the same stat quartet
    # the profile surface computes per column.
    tags=("ids", "profiling"),
)
def surrogate_keys_dense_check(spark, sf_dir):
    # Which row gets which id is partitioning-dependent, but the id SET
    # is exactly {0..n-1} — count/distinct/min/max are deterministic and
    # oracle-checkable. (functions/ids.py: no global sort, the big table
    # is never shuffled; only the per-partition count frame is.)
    from ..functions.ids import assign_surrogate_keys

    li = load_table(spark, sf_dir, "lineitem")
    ids = assign_surrogate_keys(li, "row_id", dense=True)
    return ids.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("row_id").alias("n_distinct"),
        F.min("row_id").alias("lo"),
        F.max("row_id").alias("hi"),
    )


@register(
    "json_variant_agg",
    oracle="""SELECT event_type,
                     COUNT(*) AS n,
                     CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
                       AS sum_k
              FROM events GROUP BY event_type""",
    tags=("json", "variant"),
)
def json_variant_agg(spark, sf_dir):
    # Spark 4 VariantType: parse the JSON ONCE into a binary variant
    # (typed, shreddable), then extract typed paths with variant_get —
    # the lakehouse-native semi-structured path. At scale this beats
    # get_json_object re-parsing the string per extraction, and parquet
    # variant shredding pushes the path reads into the scan.
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json("props").alias("v")
    ).select("event_type", F.variant_get("v", "$.k", "bigint").alias("k"))
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
    )


@register(
    "multimodal_resize",
    oracle="""SELECT doc_id, 32 AS width, 32 AS height,
                     CAST(1024 AS BIGINT) AS byte_len
              FROM documents""",
    tags=("multimodal", "pandas_udf"),
)
def multimodal_resize(spark, sf_dir):
    # The resized payload itself is Python-deterministic (pytest covers
    # byte equality); the oracle checks the op's hard invariant — every
    # row comes back exactly once with exactly width*height bytes.
    mm = multimodal.attach_binary(_docs(spark, sf_dir), F.col("text"))
    out = multimodal.resize_images(mm, width=32, height=32)
    return out.select("doc_id", "width", "height", "byte_len")


# BM25 CTE chain shared by the keyword-retrieval query and the hybrid
# (keyword -> vector re-rank) pipeline; ``bm`` ends with ranked docs.
_BM25_CTES = r"""toks AS (
                 SELECT doc_id,
                        unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
                 FROM documents),
                   t2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
                   dl AS (SELECT doc_id, COUNT(*) AS dl FROM t2 GROUP BY 1),
                   tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t2
                          WHERE term IN ('spark', 'join', 'filter') GROUP BY 1, 2),
                   dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
                   sc AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
                   sd AS (SELECT CAST(SUM(dl) AS DOUBLE) AS sumdl FROM dl),
                   per AS (
                 SELECT tf.doc_id,
                        CAST(FLOOR(
                          ln(1.0 + (n - df + 0.5) / (df + 0.5))
                          * (tf * (1.2 + 1.0)
                             / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(dl.dl AS DOUBLE) * n / sumdl))))
                          * 1000000.0) AS BIGINT) AS s_e6
                 FROM tf JOIN dfx ON tf.term = dfx.term
                 JOIN dl ON tf.doc_id = dl.doc_id
                 CROSS JOIN sc CROSS JOIN sd),
                   agg AS (SELECT doc_id, COUNT(*) AS n_terms,
                                  CAST(SUM(s_e6) AS BIGINT) AS score_e6
                           FROM per GROUP BY 1),
                   bm AS (SELECT doc_id, n_terms, score_e6,
                                 CAST(ROW_NUMBER() OVER (ORDER BY score_e6 DESC, doc_id ASC)
                                      AS INTEGER) AS rk
                          FROM agg)"""


@register(
    "text_bm25_topk",
    oracle=f"""WITH {_BM25_CTES}
              SELECT doc_id, n_terms, score_e6, rk FROM bm WHERE rk <= 20""",
    tags=("text", "bm25", "search"),
)
def text_bm25_topk(spark, sf_dir):
    """BM25 relevance search over the documents corpus — the classic
    keyword-retrieval scorer a training-data pipeline uses to mine
    topic-relevant documents at corpus scale."""
    return text.bm25_topk(
        _docs(spark, sf_dir), terms=("spark", "join", "filter"), k=20
    )


@register(
    "split_train_val_test",
    oracle="""SELECT doc_id,
                     CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || '|split'), 1, 4)
                               < 'cccc' THEN 'train'
                          WHEN substr(md5(CAST(doc_id AS VARCHAR) || '|split'), 1, 4)
                               < 'e666' THEN 'val'
                          ELSE 'test' END AS split
              FROM documents""",
    tags=("sampling", "split"),
)
def split_train_val_test(spark, sf_dir):
    # Deterministic 80/10/10 split: the label is a pure md5 function of
    # the id, so sets are disjoint + exhaustive by construction and
    # identical across engines/partitionings (0.8*2^16=0xcccc,
    # 0.9*2^16=0xe666) — exactly oracle-checked row-by-row.
    from ..functions.sampling import train_val_test_split

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return train_val_test_split(docs, fracs=(0.8, 0.1))


@register(
    "split_group_aware_users",
    oracle="""WITH lab AS (
                SELECT user_id,
                       CASE WHEN substr(md5(CAST(user_id AS VARCHAR)
                                             || '|split'), 1, 4)
                                 < 'cccc' THEN 'train'
                            WHEN substr(md5(CAST(user_id AS VARCHAR)
                                             || '|split'), 1, 4)
                                 < 'e666' THEN 'val'
                            ELSE 'test' END AS split
                FROM events)
              SELECT split, COUNT(*) AS n_events,
                     CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
              FROM lab GROUP BY split""",
    tags=("sampling", "split", "leakage", "events", "groupby"),
)
def split_group_aware_users(spark, sf_dir):
    # GROUP-AWARE train/val/test split — the leakage guard sequence
    # models need: the label is a pure md5 function of the GROUP key
    # (user_id), so every event of a user lands in the same split BY
    # CONSTRUCTION; a per-event split would leak each user's history
    # across the boundary. Disjointness of the user sets needs no
    # check — a function of user_id cannot give one user two labels.
    # Same 80/10/10 thresholds as split_train_val_test, same engine-
    # identical md5 rule, so the oracle replays it exactly.
    from ..functions.sampling import train_val_test_split

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id")
    lab = train_val_test_split(ev, id_col="user_id")
    return lab.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


@register(
    "dedup_keep_canonical",
    oracle=f"""WITH RECURSIVE {_JACCARD_PAIRS_CTE},
               nodes AS (SELECT id_a AS id FROM pairs
                         UNION SELECT id_b FROM pairs),
               edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                         UNION SELECT id_b AS u, id_a AS v FROM pairs),
               cc(id, lbl) AS (
                 SELECT id, id FROM nodes
                 UNION
                 SELECT e.u, cc.lbl FROM edges e JOIN cc ON cc.id = e.v),
               lbl AS (SELECT id, MIN(lbl) AS cluster_id FROM cc GROUP BY id),
               d AS (SELECT doc_id,
                            COALESCE(l.cluster_id, doc_id) AS cluster_id,
                            CAST(len(list_filter(
                              regexp_split_to_array(lower(trim(text)), '\\s+'),
                              t -> t <> '')) AS BIGINT) AS n_tokens
                     FROM documents LEFT JOIN lbl l ON doc_id = l.id),
               r AS (SELECT *,
                            ROW_NUMBER() OVER (PARTITION BY cluster_id
                              ORDER BY n_tokens DESC, doc_id ASC) AS rk,
                            COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
                     FROM d)
               SELECT cluster_id, doc_id AS kept_doc_id, n_tokens,
                      CAST(n_members AS BIGINT) AS n_members
               FROM r WHERE rk = 1""",
    tags=("dedup", "clustering", "pipeline"),
)
def dedup_keep_canonical(spark, sf_dir):
    # The dedup pipeline's last mile: connected-component clusters ->
    # keep one canonical doc per cluster (most tokens, min-id
    # tie-break); singletons keep themselves. Integer-only ranking
    # keys, so the full pipeline (pairs -> closure -> selection) is
    # exactly oracle-checked end-to-end.
    docs = _docs(spark, sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, max_shingle_df=None)
    return dedup.keep_canonical(docs, dedup.duplicate_clusters(pairs))


def _mmr_oracle(k: int = 5, shortlist: int = 40, p: int = 1,
                q: int = 2) -> str:
    """DuckDB replay of the ENTIRE pinned-mode MMR greedy
    (similarity.mmr_topk_exact): exact left-fold cosines -> integer
    micro-unit relevance/redundancy -> the k greedy selections
    UNROLLED as plain CTEs (step i scores every unselected shortlist
    candidate as p*rel_e6 - (q-p)*max redundancy against the i-1
    already-selected, then row_number picks (score DESC, id ASC)) —
    no recursion, no floats in any comparison."""
    steps = []
    for i in range(2, k + 1):
        prev = f"selu{i - 1}"
        steps.append(f"""sc{i} AS (
           SELECT cc.query_id, cc.neighbor_id, cc.rel_e6,
                  cc.rel_e6 * {p} - {q - p} * MAX(r.red_e6) AS score
           FROM c cc
           JOIN red r ON r.query_id = cc.query_id
                     AND r.id_d = cc.neighbor_id
           JOIN {prev} s ON s.query_id = r.query_id
                        AND s.neighbor_id = r.id_s
           LEFT JOIN {prev} x ON x.query_id = cc.query_id
                             AND x.neighbor_id = cc.neighbor_id
           WHERE x.neighbor_id IS NULL
           GROUP BY cc.query_id, cc.neighbor_id, cc.rel_e6),
         sel{i} AS (
           SELECT query_id, neighbor_id, rel_e6, {i} AS rank FROM (
             SELECT *, row_number() OVER (
               PARTITION BY query_id
               ORDER BY score DESC, neighbor_id ASC) AS pk
             FROM sc{i}) WHERE pk = 1),
         selu{i} AS (SELECT * FROM {prev}
                     UNION ALL SELECT * FROM sel{i})""")
    return f"""WITH e AS (
           SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           FROM embeddings),
         qs AS (SELECT vec_id AS query_id, emb AS qv
                FROM e WHERE vec_id < 5),
         s AS (SELECT qs.query_id, cand.vec_id AS neighbor_id,
                      cand.emb AS v,
                      {_cos_sql('qs.qv', 'cand.emb')} AS cos
               FROM e cand, qs WHERE cand.vec_id <> qs.query_id),
         sl AS (SELECT query_id, neighbor_id, v,
                       CAST(FLOOR(cos * 1000000.0) AS BIGINT) AS rel_e6,
                       row_number() OVER (
                         PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id ASC) AS rk
                FROM s),
         c AS (SELECT query_id, neighbor_id, v, rel_e6
               FROM sl WHERE rk <= {shortlist}),
         red AS (SELECT a.query_id, a.neighbor_id AS id_d,
                        b.neighbor_id AS id_s,
                        CAST(FLOOR(({_cos_sql('a.v', 'b.v')})
                                   * 1000000.0) AS BIGINT) AS red_e6
                 FROM c a JOIN c b ON a.query_id = b.query_id
                                  AND a.neighbor_id <> b.neighbor_id),
         sel1 AS (
           SELECT query_id, neighbor_id, rel_e6, 1 AS rank FROM (
             SELECT *, row_number() OVER (
               PARTITION BY query_id
               ORDER BY rel_e6 DESC, neighbor_id ASC) AS pk
             FROM c) WHERE pk = 1),
         selu1 AS (SELECT * FROM sel1),
         {', '.join(steps)}
    SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, rel_e6
    FROM selu{k}"""


@register(
    "sim_mmr_topk",
    oracle=_mmr_oracle(k=5, shortlist=40, p=1, q=2),
    tags=("similarity", "mmr", "retrieval"),
)
def sim_mmr_topk(spark, sf_dir):
    # Diversified top-k (MMR), VALUE-HASH-CHECKED end to end (r13
    # conversion, was rows-only — the 6th pinned twin): distributed
    # exact-cosine shortlist + executor-side greedy re-rank (grouped
    # applyInPandas per query) trading relevance against redundancy —
    # the retrieval-side mirror of SemDeDup. The pinned mode
    # (similarity.mmr_topk_exact) runs the greedy on integer
    # micro-unit cosines with lambda = 1/2 as a rational, so every
    # selection comparison is exact int64 and the oracle above
    # replays all 5 greedy steps as unrolled CTEs. The float twin
    # (mmr_topk) stays the serving default; its planted-redundancy
    # quality tests remain in tests/test_similarity.py.
    emb = _emb_double(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.mmr_topk_exact(
        emb, queries, k=5, lambda_num=1, lambda_den=2, shortlist=40
    )


@register(
    "sim_mmr_rank1",
    oracle=f"""WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings),
q AS (SELECT vec_id AS query_id, emb AS qv FROM e WHERE vec_id < 5),
s AS (SELECT q.query_id, c.vec_id AS neighbor_id,
             {_cos_sql('q.qv', 'c.emb')} AS cos
      FROM e c, q WHERE c.vec_id <> q.query_id),
r AS (SELECT query_id, neighbor_id, cos,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id ASC) AS INTEGER) AS rank
      FROM s)
SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank = 1""",
    tags=("similarity", "mmr", "retrieval"),
)
def sim_mmr_rank1(spark, sf_dir):
    # MMR's first selection has zero redundancy term, so it is exactly
    # the per-query cosine argmax (ties on id) — SQL-expressible. This
    # runs the REAL mmr_topk path (shortlist join + grouped
    # applyInPandas greedy) and keeps only rank 1, so the driver
    # exact-grades the relevance half of the diversified retrieval.
    emb = _emb_double(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    out = similarity.mmr_topk(emb, queries, k=5, lambda_=0.5, shortlist=40)
    return out.filter(F.col("rank") == 1)


@register(
    "sim_pq_topk",
    oracle="""WITH g AS (SELECT vec_id,
                  list_transform(embedding,
                    x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5)
                              AS BIGINT)) AS gv
           FROM embeddings),
     samp AS (SELECT * FROM (
                SELECT vec_id, gv,
                       ROW_NUMBER() OVER (
                         ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS kidx
                FROM g) WHERE kidx < 64),
     cb AS (SELECT kidx,
                   (generate_subscripts(gv, 1) - 1) // 4 AS j,
                   (generate_subscripts(gv, 1) - 1) % 4 AS d,
                   unnest(gv) AS val
            FROM samp),
     vx AS (SELECT vec_id,
                   (generate_subscripts(gv, 1) - 1) // 4 AS j,
                   (generate_subscripts(gv, 1) - 1) % 4 AS d,
                   unnest(gv) AS val
            FROM g),
     d2 AS (SELECT vx.vec_id, vx.j, cb.kidx,
                   SUM((vx.val - cb.val) * (vx.val - cb.val)) AS dist
            FROM vx JOIN cb ON cb.j = vx.j AND cb.d = vx.d
            GROUP BY 1, 2, 3),
     codes AS (SELECT vec_id, j, kidx FROM (
                 SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY vec_id, j ORDER BY dist, kidx) AS rn
                 FROM d2) WHERE rn = 1),
     qx AS (SELECT vec_id AS query_id, j, d, val
            FROM (SELECT vec_id,
                         (generate_subscripts(gv, 1) - 1) // 4 AS j,
                         (generate_subscripts(gv, 1) - 1) % 4 AS d,
                         unnest(gv) AS val
                  FROM g WHERE vec_id < 10)),
     lut AS (SELECT qx.query_id, cb.j, cb.kidx,
                    CAST(SUM(qx.val * cb.val) AS BIGINT) AS lv
             FROM qx JOIN cb ON cb.j = qx.j AND cb.d = qx.d
             GROUP BY 1, 2, 3),
     adc AS (SELECT l.query_id, c.vec_id AS neighbor_id,
                    CAST(SUM(l.lv) AS BIGINT) AS adc
             FROM codes c JOIN lut l ON l.j = c.j AND l.kidx = c.kidx
             WHERE c.vec_id <> l.query_id
             GROUP BY 1, 2),
     sl AS (SELECT query_id, neighbor_id, adc FROM (
              SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY adc DESC, neighbor_id ASC) AS rk
              FROM adc) WHERE rk <= 20),
     rer AS (SELECT sl.query_id, sl.neighbor_id, sl.adc,
                    CAST(list_dot_product(q.gv, c.gv) AS BIGINT) AS dot_g
             FROM sl JOIN g c ON c.vec_id = sl.neighbor_id
                     JOIN g q ON q.vec_id = sl.query_id)
SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank, dot_g, adc
FROM (SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id
        ORDER BY dot_g DESC, neighbor_id ASC) AS rn
      FROM rer)
WHERE rn <= 5""",
    tags=("similarity", "pq", "pandas_udf"),
)
def sim_pq_topk(spark, sf_dir):
    # PQ/ADC ANN, VALUE-HASH-CHECKED end-to-end (the r11 conversion
    # note's second target): the pinned-parameter apply-step twin —
    # integer micro-grid vectors, the trainer's ITERS=0 md5-ordered
    # codebook seed, integer argmin encoding, integer ADC LUT sums,
    # totally-ordered shortlist + integer-dot re-rank. DuckDB rebuilds
    # the same codebook, the same codes, the same LUTs, and must land
    # the identical top-k. pq_topk (learned Lloyd codebooks over
    # normalized floats) stays the scale default; its recall and
    # LUT-strategy equivalence are pytest-asserted in
    # test_similarity.py.
    emb = _emb_double(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.pq_topk_exact(emb, queries, k=5, m=16, ksub=64)


@register(
    "pipeline_hybrid_retrieval",
    oracle=f"""WITH {_BM25_CTES},
               shortlist AS (SELECT doc_id, score_e6 FROM bm WHERE rk <= 20),
               e AS (SELECT vec_id,
                            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                     FROM embeddings),
               qv AS (SELECT emb AS q FROM e WHERE vec_id = 0),
               s AS (SELECT doc_id, score_e6 AS bm25_e6,
                            {_cos_sql('qv.q', 'e.emb')} AS cos
                     FROM shortlist JOIN e ON doc_id = e.vec_id CROSS JOIN qv)
               SELECT doc_id, bm25_e6, cos,
                      CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id ASC)
                           AS INTEGER) AS rank
               FROM s""",
    tags=("text", "similarity", "pipeline", "search", "bm25"),
)
def pipeline_hybrid_retrieval(spark, sf_dir):
    # Hybrid search — the retrieval shape RAG pipelines run at corpus
    # scale: a cheap high-recall keyword stage (BM25 over an inverted
    # scan) shortlists 20 docs, then only those fetch embeddings for
    # exact cosine re-rank against the query vector (vec_id 0 stands in
    # for the encoded query). The vector side touches 20 rows, not the
    # corpus. Fully oracle-checked end-to-end: quantized BM25 + the
    # fold-ordered cosine both match DuckDB bit-for-bit.

    docs = _docs(spark, sf_dir)
    shortlist = text.bm25_topk(
        docs, terms=("spark", "join", "filter"), k=20
    ).select("doc_id", F.col("score_e6").alias("bm25_e6"))
    emb = _emb_double(spark, sf_dir)
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    s = (
        shortlist.join(emb, shortlist["doc_id"] == emb["vec_id"])
        .crossJoin(F.broadcast(qv))
        .select(
            "doc_id",
            "bm25_e6",
            similarity.cosine(F.col("q"), F.col("embedding")).alias("cos"),
        )
    )
    # s is the 20-row shortlist, so ranking it needs no window at all
    # (operators.relational.rank_small_result: pack -> sort_array ->
    # posexplode) — window-free by construction, so the unpartitioned-
    # WindowExec pattern can't be copy-pasted onto unbounded inputs.
    from ..operators.relational import rank_small_result

    return rank_small_result(s, "cos", "doc_id", rank_col="rank").select(
        "doc_id", "bm25_e6", "cos", "rank"
    )


@register(
    "text_compression_ratio", oracle=None,
    tags=("text", "quality", "pandas_udf"),
)
def text_compression_ratio(spark, sf_dir):
    # Rows-only, verified unconvertible (round 10): DuckDB 1.0 exposes
    # NO compression function at the SQL layer (checked against
    # duckdb_functions(): no zlib/gzip/deflate entries), so a
    # value-hash oracle cannot reproduce zlib ratios, and swapping the
    # metric for a SQL-expressible proxy (RLE runs, distinct n-grams)
    # would change what the query measures — text_repetition_stats
    # already covers that family with an exact oracle. Monotonicity
    # (repetitive < varied) and determinism are pytest-asserted.
    return text.compression_ratio(_docs(spark, sf_dir))


@register(
    "lang_id_confusion",
    oracle=f"""SELECT lang, {_LANG_CASE} AS lang_pred, COUNT(*) AS n
               FROM documents GROUP BY 1, 2""",
    tags=("text", "eval"),
)
def lang_id_confusion(spark, sf_dir):
    # Classifier evaluation as a query: the labeled lang column crossed
    # with the marker-based prediction — the confusion matrix every
    # corpus language filter gets judged by. One hash aggregation.
    return (
        _docs(spark, sf_dir)
        .select("lang", text.language_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "multimodal_audio_energy",
    oracle="""WITH c AS (
                SELECT doc_id,
                       generate_subscripts(string_split(text, ''), 1) - 1
                         AS pos,
                       unnest([unicode(ch)
                               for ch in string_split(text, '')]) AS cp
                FROM documents),
                   f AS (
                SELECT doc_id, CAST(pos // 256 AS INTEGER) AS window_idx,
                       cp - 128 AS s
                FROM c)
              SELECT doc_id, window_idx,
                     CAST(COUNT(*) AS INTEGER) AS n_samples,
                     CAST(SUM(s * s) AS BIGINT) AS energy
              FROM f GROUP BY 1, 2""",
    tags=("multimodal", "audio", "pandas_udf"),
)
def multimodal_audio_energy(spark, sf_dir):
    # The REAL audio framing operator (functions/multimodal.
    # audio_window_energy — binary payload in via Arrow batches,
    # executor-side windowing inside mapInPandas), now value-hashed:
    # each window's integer ``energy`` (sum of squared centered
    # samples on the pre-normalized lattice) is bit-equal math DuckDB
    # replays from the documents' codepoints (ASCII fixture: codepoint
    # == payload byte — the same contract multimodal_pcm_energy pins).
    # The float rms column stays on the function for audio consumers;
    # this row selects the integer contract. Converted round 11 (was
    # rows-only).
    mm = multimodal.attach_binary(_docs(spark, sf_dir), F.col("text"))
    return multimodal.audio_window_energy(mm, frame_bytes=256).select(
        "doc_id", "window_idx", "n_samples", "energy"
    )


@register(
    "multimodal_audio_spectral",
    oracle=None,
    tags=("multimodal", "audio", "fft", "pandas_udf"),
)
def multimodal_audio_spectral(spark, sf_dir):
    # REAL audio DSP end-to-end: each doc's text bytes become a mono
    # 16-bit PCM WAV (functions/multimodal.py encode_wav16 — an actual
    # RIFF container, decoded back by the stdlib reader), then
    # audio_spectral_features runs rFFT frames executor-side (RMS +
    # spectral centroid/bandwidth in Hz). Rows-only; the physics
    # (pure-tone centroid == tone frequency) is pytest-asserted in
    # tests/test_multimodal_decode.py.
    import numpy as np
    import pandas as pd

    def encode(batches):
        from ..functions.multimodal import encode_wav16

        for pdf in batches:
            payloads = []
            for text in pdf["text"]:
                b = text.encode("utf-8")[:1024]
                sig = (
                    np.frombuffer(b, dtype=np.uint8).astype(np.float64)
                    - 128.0
                ) / 128.0
                payloads.append(encode_wav16(sig, rate=8000))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") % 10 == 0)
    wavs = docs.select("doc_id", "text").mapInPandas(
        encode, "doc_id bigint, payload binary"
    )
    return multimodal.audio_spectral_features(wavs, frame=256)


@register(
    "text_unigram_surprisal",
    oracle=r"""WITH toks AS (
                 SELECT doc_id,
                        unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
                 FROM documents),
                   t2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
                   doc_tf AS (SELECT doc_id, term, COUNT(*) AS tf_doc
                              FROM t2 GROUP BY 1, 2),
                   vocab AS (SELECT term, CAST(SUM(tf_doc) AS BIGINT) AS tf
                             FROM doc_tf GROUP BY 1),
                   tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS total FROM vocab),
                   sc AS (SELECT doc_tf.doc_id, doc_tf.tf_doc,
                                 CAST(FLOOR(-ln(CAST(tf AS DOUBLE) / total)
                                            * 1000000.0) AS BIGINT) AS s_e6
                          FROM doc_tf JOIN vocab ON doc_tf.term = vocab.term
                          CROSS JOIN tot)
              SELECT doc_id,
                     CAST(SUM(tf_doc) AS BIGINT) AS n_tokens,
                     CAST(SUM(tf_doc * s_e6) AS BIGINT) AS surprisal_e6,
                     CAST(SUM(tf_doc * s_e6) AS DOUBLE) / CAST(SUM(tf_doc) AS DOUBLE)
                       AS avg_surprisal_e6
              FROM sc GROUP BY 1""",
    tags=("text", "quality", "lm"),
)
def text_unigram_surprisal(spark, sf_dir):
    # LM-based quality scoring with the corpus's own unigram model —
    # quantized-exact, so the whole model-train + score pipeline is
    # oracle-checked end-to-end.
    return text.unigram_surprisal(_docs(spark, sf_dir))


@register(
    "text_bigram_surprisal",
    oracle=r"""WITH d AS (
                 SELECT doc_id,
                        list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                    x -> x <> '') AS l
                 FROM documents),
                   ix AS (SELECT doc_id, l,
                                 unnest(generate_series(1, len(l) - 1)) AS i
                          FROM d),
                   b AS (SELECT doc_id, l[i] AS w1, l[i + 1] AS w2 FROM ix),
                   doc_bi AS (SELECT doc_id, w1, w2, COUNT(*) AS tf_doc
                              FROM b GROUP BY 1, 2, 3),
                   c2 AS (SELECT w1, w2, CAST(SUM(tf_doc) AS BIGINT) AS n2
                          FROM doc_bi GROUP BY 1, 2),
                   c1 AS (SELECT w1, CAST(SUM(n2) AS BIGINT) AS n1
                          FROM c2 GROUP BY 1),
                   s AS (SELECT w1, w2,
                                CAST(FLOOR(-ln(CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE))
                                           * 1000000.0) AS BIGINT) AS s_e6
                         FROM c2 JOIN c1 USING (w1))
              SELECT doc_id,
                     CAST(SUM(tf_doc) AS BIGINT) AS n_bigrams,
                     CAST(SUM(tf_doc * s_e6) AS BIGINT) AS surprisal_e6,
                     CAST(SUM(tf_doc * s_e6) AS DOUBLE) / CAST(SUM(tf_doc) AS DOUBLE)
                       AS avg_surprisal_e6
              FROM doc_bi JOIN s USING (w1, w2) GROUP BY 1""",
    tags=("text", "quality", "lm"),
)
def text_bigram_surprisal(spark, sf_dir):
    # Conditional bigram LM P(w2|w1) trained on the corpus itself and
    # scored back per document — model training AND scoring both
    # oracle-checked exactly (quantized-int aggregation).
    return text.bigram_surprisal(_docs(spark, sf_dir))


def _pagerank_oracle(iters: int = 10, num: int = 85, den: int = 100,
                     scale: int = 10**12) -> str:
    """DuckDB replay of integer-lattice PageRank over the SAME
    near-dup graph: the jaccard-pairs CTE builds the edges, then each
    of the ``iters`` rounds is unrolled — contributions ``r // deg``
    (floor), exact integer sums, update ``base + (num*s) // den`` —
    matching graph.pagerank_exact term for term."""
    rounds = []
    for i in range(1, iters + 1):
        prev = f"r{i - 1}"
        rounds.append(f"""c{i} AS (
                 SELECT e.v AS id, SUM(r.r // d.deg) AS s
                 FROM e JOIN {prev} r ON r.id = e.u
                 JOIN deg d ON d.u = e.u
                 GROUP BY e.v),
               r{i} AS (
                 SELECT nd.id,
                        CAST(b.base + ({num} * COALESCE(c.s, 0)) // {den}
                             AS BIGINT) AS r
                 FROM nodes nd CROSS JOIN basev b
                 LEFT JOIN c{i} c ON c.id = nd.id)""")
    return f"""WITH {_JACCARD_PAIRS_CTE},
               nodes AS (SELECT DISTINCT id FROM (
                   SELECT id_a AS id FROM pairs
                   UNION ALL SELECT id_b FROM pairs)),
               e AS (SELECT id_a AS u, id_b AS v FROM pairs
                     UNION SELECT id_b, id_a FROM pairs),
               deg AS (SELECT u, COUNT(*) AS deg FROM e GROUP BY u),
               nn AS (SELECT COUNT(*) AS n FROM nodes),
               basev AS (SELECT (({den} - {num}) * {scale})
                                  // ({den} * n) AS base,
                                {scale} // n AS r0
                         FROM nn),
               r0 AS (SELECT id, CAST(b.r0 AS BIGINT) AS r
                      FROM nodes, basev b),
               {', '.join(rounds)}
              SELECT id, r AS rank_e12 FROM r{iters}"""


@register(
    "graph_pagerank_neardup",
    oracle=_pagerank_oracle(),
    tags=("graph", "iterative"),
)
def graph_pagerank_neardup(spark, sf_dir):
    # PageRank centrality over the near-duplicate graph, VALUE-HASH-
    # CHECKED (r13 conversion, was rows-only — the 7th pinned twin):
    # hub documents of dense duplicate neighborhoods, ranked by
    # graph.pagerank_exact on the integer pico-unit lattice with
    # damping 85/100 as a rational — every one of the 10 power rounds
    # is exact int64, so the oracle unrolls them as plain CTEs over
    # the SAME jaccard-pairs graph. The float pagerank stays the
    # serving default (and numpy-differential-tested); the pinned
    # twin's shape — one join + one aggregation per round — is
    # identical.
    from ..functions.graph import pagerank_exact

    pairs = dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), max_shingle_df=None)
    return pagerank_exact(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )


@register(
    "corpus_report_by_source",
    oracle=r"""WITH t AS (SELECT source, doc_id, trim(text) AS tt,
                      CAST(len(list_filter(
                        regexp_split_to_array(lower(trim(text)), '\s+'),
                        x -> x <> '')) AS BIGINT) AS ntok
               FROM documents),
                   d AS (SELECT tt FROM t GROUP BY tt HAVING COUNT(*) > 1)
              SELECT source,
                     COUNT(*) AS n_docs,
                     CAST(SUM(ntok) AS BIGINT) AS total_tokens,
                     CAST(SUM(ntok) AS DOUBLE) / COUNT(*) AS avg_tokens,
                     CAST(SUM(CASE WHEN d.tt IS NOT NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS dup_docs
              FROM t LEFT JOIN d ON t.tt = d.tt
              GROUP BY source""",
    tags=("text", "report", "pipeline", "profiling"),
)
def corpus_report_by_source(spark, sf_dir):
    # The per-source "report card" a data curator reads before mixing
    # corpora: volume, token mass, and exact-duplicate exposure per
    # source. Integer aggregates + one final division — exact. Two hash
    # aggregations (text-hash dup set, per-source rollup) + one join.
    docs = _docs(spark, sf_dir)
    ntok = F.size(
        F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda x: x != "")
    ).cast("long")
    t = docs.select("source", "doc_id", F.trim(F.col("text")).alias("tt"), ntok.alias("ntok"))
    d = (
        t.groupBy("tt")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .select("tt", F.lit(1).alias("__isdup"))
    )
    return (
        t.join(d, "tt", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").cast("long").alias("total_tokens"),
            (F.sum("ntok").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
            F.sum(F.when(F.col("__isdup").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("dup_docs"),
        )
    )


@register(
    "corpus_rollup_lang_source",
    oracle="""SELECT lang, source, COUNT(*) AS n_docs,
                     CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                     CAST(GROUPING(lang) * 2 + GROUPING(source)
                          AS INTEGER) AS gid
              FROM documents
              GROUP BY ROLLUP(lang, source)""",
    tags=("rollup", "groupby", "text", "report"),
)
def corpus_rollup_lang_source(spark, sf_dir):
    # The corpus inventory at every drill level in ONE pass: per
    # (lang, source), per lang, and grand total via GROUP BY ROLLUP —
    # Spark expands the grouping sets inside a single hash aggregate
    # (partial/final, no re-scan per level). gid disambiguates a real
    # NULL group key from a rolled-up level, same bit order both
    # engines (grouping(lang)*2 + grouping(source)).
    docs = _docs(spark, sf_dir)
    return docs.rollup("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        (F.grouping("lang") * 2 + F.grouping("source"))
        .cast("integer")
        .alias("gid"),
    )


@register(
    "corpus_mix_weighted",
    oracle="""SELECT doc_id, source, lang
              FROM documents
              WHERE source = 'src0'
                 OR (source = 'src1'
                     AND substr(md5(CAST(doc_id AS VARCHAR) || '|mix0'), 1, 4) < '8000')
                 OR (source = 'src2'
                     AND substr(md5(CAST(doc_id AS VARCHAR) || '|mix0'), 1, 4) < '1999')""",
    tags=("sampling", "pipeline", "mix"),
)
def corpus_mix_weighted(spark, sf_dir):
    # Corpus mixing with per-source rates (keep all of src0, half of
    # src1, 10% of src2, drop the rest) — the md5-threshold rule makes
    # the mix a pure function of (doc_id, salt) and therefore exactly
    # oracle-checkable; 1.0 clamps to the max 4-hex threshold 0xffff,
    # 0.5 = 0x8000, 0.1 = 0x1999.
    from ..functions.sampling import mix_corpus

    docs = _docs(spark, sf_dir).select("doc_id", "source", "lang")
    return mix_corpus(
        docs, {"src0": 1.0, "src1": 0.5, "src2": 0.1}, strata_col="source"
    )


@register(
    "dedup_duplicate_spans",
    oracle=r"""WITH t AS (SELECT doc_id,
                       regexp_split_to_array(lower(trim(text)), '\s+') AS w
                FROM documents),
               g1 AS (SELECT doc_id, w,
                       CAST(unnest(generate_series(1, len(w)-7)) AS INTEGER) AS pos
                FROM t WHERE len(w) >= 8),
               g AS (SELECT doc_id, pos,
                       md5(array_to_string(w[pos:pos+7], ' ')) AS gram_md5
                FROM g1),
               st AS (SELECT gram_md5,
                       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
                FROM g GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2)
               SELECT g.doc_id, g.pos, g.gram_md5, st.n_docs
               FROM g JOIN st USING (gram_md5)""",
    tags=("dedup", "spans", "ngram"),
)
def dedup_duplicate_spans(spark, sf_dir):
    # Span-level exact-substring dedup signal: every (doc, position)
    # whose 8-gram repeats verbatim across >= 2 documents, fully
    # oracle-checked (both engines digest the same 1-based token
    # slices to md5).
    return dedup.duplicate_spans(_docs(spark, sf_dir), n=8, min_docs=2)


@register(
    "dedup_span_intervals",
    oracle=r"""WITH t AS (SELECT doc_id,
                       regexp_split_to_array(lower(trim(text)), '\s+') AS w
                FROM documents),
               g1 AS (SELECT doc_id, w,
                       CAST(unnest(generate_series(1, len(w)-7)) AS INTEGER) AS pos
                FROM t WHERE len(w) >= 8),
               g AS (SELECT doc_id, pos,
                       md5(array_to_string(w[pos:pos+7], ' ')) AS gram_md5
                FROM g1),
               st AS (SELECT gram_md5 FROM g
                      GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2),
               hit AS (SELECT DISTINCT doc_id, pos FROM g JOIN st USING (gram_md5)),
               isl AS (SELECT doc_id, pos,
                       pos - CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                                  AS INTEGER) AS island
                FROM hit)
               SELECT doc_id,
                      MIN(pos) AS start_pos,
                      MAX(pos) + 7 AS end_pos,
                      CAST(MAX(pos) + 7 - MIN(pos) + 1 AS BIGINT) AS n_tokens
               FROM isl GROUP BY doc_id, island""",
    tags=("dedup", "spans", "window"),
)
def dedup_span_intervals(spark, sf_dir):
    # The actionable form of span dedup: consecutive duplicated
    # positions merged into maximal cut/keep intervals per document
    # (gaps-and-islands, doc-partitioned). Both engines run the same
    # island arithmetic, so intervals match exactly. gram_hash="tuple"
    # (r13): the gram key never reaches this output — only its
    # equality matters — so the tuple-hash mode skips the per-position
    # md5-string build (the md5 column stays the oracle-replayed
    # surface of dedup_duplicate_spans, where it IS the output).
    spans = dedup.duplicate_spans(
        _docs(spark, sf_dir), n=8, min_docs=2, gram_hash="tuple"
    )
    return dedup.merge_span_intervals(spans, n=8)


@register(
    "dedup_cut_spans",
    oracle=r"""WITH t AS (SELECT doc_id,
                       regexp_split_to_array(lower(trim(text)), '\s+') AS w
                FROM documents),
               g1 AS (SELECT doc_id, w,
                       CAST(unnest(generate_series(1, len(w)-7)) AS INTEGER) AS pos
                FROM t WHERE len(w) >= 8),
               g AS (SELECT doc_id, pos,
                       md5(array_to_string(w[pos:pos+7], ' ')) AS gram_md5
                FROM g1),
               st AS (SELECT gram_md5 FROM g
                      GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2),
               hit AS (SELECT DISTINCT doc_id, pos FROM g JOIN st USING (gram_md5)),
               isl AS (SELECT doc_id, pos,
                       pos - CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                                  AS INTEGER) AS island
                FROM hit),
               iv0 AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + 7 AS e
                       FROM isl GROUP BY doc_id, island),
               iv AS (SELECT doc_id, list(struct_pack(s := s, e := e)) AS ivs
                      FROM iv0 GROUP BY doc_id),
               d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
                     FROM documents),
               keepx AS (SELECT d.doc_id, tk,
                       list_filter(generate_series(1, len(tk)),
                                   i -> iv.ivs IS NULL OR
                                        len(list_filter(iv.ivs,
                                            v -> i >= v.s AND i <= v.e)) = 0) AS keep
                FROM d LEFT JOIN iv USING (doc_id))
               SELECT doc_id,
                      COALESCE(array_to_string(list_transform(keep, i -> tk[i]), ' '),
                               '') AS clean_text,
                      CAST(len(tk) - len(keep) AS BIGINT) AS n_tokens_cut
               FROM keepx""",
    tags=("dedup", "spans", "pipeline"),
)
def dedup_cut_spans(spark, sf_dir):
    # The full span-dedup pipeline end-to-end: detect verbatim 8-gram
    # repeats -> merge runs into intervals -> CUT those token ranges
    # out of the text. Fully oracle-checked including the rewritten
    # strings (COALESCE: DuckDB stringifies an empty list to NULL,
    # Spark's concat_ws to '' — fully-cut docs hit that edge).
    docs = _docs(spark, sf_dir)
    # gram_hash="tuple" (r13): same rationale as dedup_span_intervals
    # — gram equality only, the digest never reaches the output.
    spans = dedup.duplicate_spans(docs, n=8, min_docs=2, gram_hash="tuple")
    iv = dedup.merge_span_intervals(spans, n=8)
    return dedup.cut_spans(docs, iv)


@register(
    "text_normalize_unicode",
    oracle=r"""SELECT doc_id,
                      regexp_replace(trim(nfc_normalize(coalesce(text, ''))),
                                     '\s+', ' ', 'g') AS norm_text,
                      regexp_replace(trim(nfc_normalize(coalesce(text, ''))),
                                     '\s+', ' ', 'g') <> coalesce(text, '')
                        AS changed
               FROM documents""",
    tags=("text", "pandas_udf", "normalize"),
)
def text_normalize_unicode(spark, sf_dir):
    # Unicode normalization + whitespace collapse, pinned to NFC here
    # because DuckDB ships nfc_normalize — so the pandas-UDF fold is
    # value-hash-checked against an independent Unicode implementation
    # (ICU vs Python unicodedata), not just self-consistent. The NFKC
    # default (fullwidth/ligature folds; no SQL twin exists) keeps its
    # planted-string pytest coverage in test_corpus_quality.py.
    return text.normalize_unicode(_docs(spark, sf_dir), form="NFC")


# A PINNED, well-ordered merge list (every merge's components are
# single characters or the product of an EARLIER merge — the property
# real learned BPE has by construction, and the property that makes
# greedy rank-priority encoding equal to applying each merge
# exhaustively in rank order).
_BPE_PINNED = [
    ("t", "h"), ("th", "e"), ("the", "</w>"), ("i", "n"), ("in", "g"),
    ("ing", "</w>"), ("a", "n"), ("an", "d"), ("and", "</w>"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("s", "</w>"), ("e", "</w>"),
]


def _bpe_apply_oracle(merges) -> str:
    # DuckDB replay of the greedy BPE encoder: each word becomes a
    # chr(2)<sym>chr(3)-wrapped symbol string (delimiters can't
    # overlap, so replace() is exactly the leftmost non-overlapping
    # merge), each merge is one sequential replace in rank order, then
    # the wrappers fold into the '|'-joined token string.
    r = (
        "array_to_string(list_transform(string_split(w, ''), "
        "c -> chr(2) || c || chr(3)), '') || chr(2) || '</w>' || chr(3)"
    )
    for a, b in merges:
        r = (
            f"replace({r}, chr(2) || '{a}' || chr(3) || "
            f"chr(2) || '{b}' || chr(3), chr(2) || '{a}{b}' || chr(3))"
        )
    return rf"""WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))),
                                           '\s+'), x -> x <> '') AS words
  FROM documents),
     r AS (SELECT doc_id, list_transform(words, w -> {r}) AS reprs FROM w)
SELECT doc_id,
       array_to_string(list_transform(reprs,
         s -> replace(replace(replace(s, chr(3) || chr(2), '|'),
                              chr(2), ''), chr(3), '')), '|') AS tokens,
       CAST(coalesce(list_sum(list_transform(reprs,
         s -> length(s) - length(replace(s, chr(2), '')))), 0)
            AS INTEGER) AS n_bpe_tokens
FROM r"""


@register(
    "text_bpe_apply",
    oracle=_bpe_apply_oracle(_BPE_PINNED),
    tags=("text", "tokenizer", "pandas_udf"),
)
def text_bpe_apply(spark, sf_dir):
    # The BPE APPLY step under the driver's value-hash (round 11 —
    # learning stays rows-only in text_bpe_tokens because merges are
    # corpus-learned state; the ENCODER itself is deterministic given
    # pinned merges): the real Arrow-batched greedy encoder
    # (functions/bpe.apply_bpe, rank-priority merging with per-batch
    # word memoization) runs with a fixed well-ordered merge list, and
    # DuckDB replays it as sequential rank-ordered replaces on
    # delimiter-wrapped symbol strings — the two are provably equal
    # for well-ordered lists, so every token boundary of every word is
    # hash-checked, not just the counts.
    from ..functions import bpe

    enc = bpe.apply_bpe(_docs(spark, sf_dir), _BPE_PINNED)
    return enc.select(
        "doc_id",
        F.array_join("bpe_tokens", "|").alias("tokens"),
        F.col("n_bpe_tokens").cast("int").alias("n_bpe_tokens"),
    )


@register("text_bpe_tokens", oracle=None, tags=("text", "tokenizer", "pandas_udf"))
def text_bpe_tokens(spark, sf_dir):
    # Learned BPE subword tokenization (Sennrich 2016): merges trained
    # driver-side on the bounded word-frequency table (model-sized
    # data, like IVF centroids), applied in one Arrow-batched pass.
    # Rows-only: the MERGES are corpus-learned state (the documented
    # unconvertible class); the APPLY step is value-hash-checked under
    # pinned merges by text_bpe_apply above. Learning determinism,
    # reconstruction, and compression are pytest-asserted
    # (tests/test_corpus_quality.py).
    from ..functions import bpe

    docs = _docs(spark, sf_dir)
    merges = bpe.learn_bpe(docs, n_merges=100, vocab_cap=20_000)
    return bpe.apply_bpe(docs, merges).select("doc_id", "n_bpe_tokens")


@register(
    "text_heavy_hitters",
    oracle=r"""WITH toks AS (
                 SELECT unnest(list_filter(
                          regexp_split_to_array(lower(trim(text)), '\s+'),
                          x -> x <> '')) AS term
                 FROM documents)
              SELECT term, COUNT(*) AS n
              FROM toks GROUP BY 1
              ORDER BY n DESC, term ASC LIMIT 20""",
    tags=("text", "frequency", "pandas_udf"),
)
def text_heavy_hitters(spark, sf_dir):
    # Two-pass Misra-Gries heavy hitters: bounded per-partition state
    # produces a candidate superset, exact counts verify — top-k is
    # EXACT (not sketch-approximate) whenever the k-th count clears
    # n/cap, which the cap guarantees at this vocabulary size. The
    # oracle is the plain exact top-k, so the whole two-pass path is
    # value-checked end to end.
    from ..functions.frequency import heavy_hitters

    return heavy_hitters(_docs(spark, sf_dir), k=20, cap=65_536)


@register("regression_quality_signal", oracle=None, tags=("regression", "ml"))
def regression_quality_signal(spark, sf_dir):
    # In-database OLS: one sufficient-statistics pass (X'X, X'y sums),
    # numpy solve on the driver, codegen dot-product scoring — the
    # quality-classifier stage of a corpus pipeline with zero UDFs.
    # Rows-only (float sums are order-dependent); coefficients are
    # numpy-lstsq differential-tested in tests/test_similarity.py.
    from ..functions.regression import fit_and_score
    from ..functions.text import stopword_ratio, token_count

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.col("n_chars").cast("double").alias("n_chars"),
        token_count(F.col("text")).cast("double").alias("n_tok"),
        stopword_ratio(F.col("text")).alias("sw_ratio"),
    )
    scored = fit_and_score(d, ["n_tok", "sw_ratio"], "n_chars")
    return scored.select("doc_id", "prediction", "residual")


@register(
    "graph_triangles_cooccurrence",
    oracle="""WITH b AS (
                SELECT DISTINCT event_type,
                       date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
                       user_id
                FROM events),
                   e AS (
                SELECT DISTINCT l.user_id AS a, r.user_id AS b
                FROM b l JOIN b r
                  ON l.event_type = r.event_type AND l.hr = r.hr
                 AND l.user_id < r.user_id)
              SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
                     CAST(COUNT(*) AS BIGINT) AS n_triangles
              FROM e e1
              JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
              JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b""",
    tags=("graph", "join"),
)
def graph_triangles_cooccurrence(spark, sf_dir):
    # Exact distributed triangle counting (degree-ordered orientation,
    # functions/graph.py) over the user co-occurrence graph — users
    # sharing an (event_type, hour) activity bucket. The oracle counts
    # the same triangles with the naive canonical 3-way join; the
    # Spark path uses the orientation that survives hub vertices at
    # scale. Both must agree exactly.
    from ..functions.graph import closed_wedges, cooccurrence_edges

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr"), "user_id"
    )
    # the edge list feeds degree, three join sides, and the edge count
    # — localCheckpoint computes the bucket self-join ONCE (same
    # lineage-truncation discipline as dedup.duplicate_clusters)
    edges = cooccurrence_edges(ev, ["event_type", "hr"], "user_id").localCheckpoint(
        eager=True
    )
    tri = closed_wedges(edges)
    return edges.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    )


@register(
    "sample_contrastive_negatives",
    oracle="""WITH n AS (SELECT COUNT(*) AS cnt FROM embeddings),
                   ex AS (
                SELECT vec_id AS anchor_id, j, cnt
                FROM embeddings CROSS JOIN n
                CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS j)),
                   d AS (
                SELECT anchor_id, j,
                       (anchor_id * 2654435761 + j * 40503 + 7) % cnt AS raw,
                       cnt
                FROM ex)
              SELECT anchor_id, CAST(j AS INTEGER) AS j,
                     CAST(CASE WHEN raw = anchor_id THEN (raw + 1) % cnt
                               ELSE raw END AS BIGINT) AS neg_id
              FROM d""",
    tags=("sampling", "contrastive"),
)
def sample_contrastive_negatives(spark, sf_dir):
    # Deterministic negatives for contrastive training: a pure row
    # function of (anchor, j) over the dense id space, so the SQL
    # oracle reproduces the exact draw — sampling itself is graded on
    # values, not just shape.
    from ..functions.sampling import negative_samples

    emb = load_table(spark, sf_dir, "embeddings")
    out = negative_samples(emb, id_col="vec_id", k=4, salt=7)
    return out.select("anchor_id", F.col("j").cast("int").alias("j"), "neg_id")


def _pretrain_mix_oracle() -> str:
    """DuckDB replay of the FULL pretraining pipeline composition.
    Every stage already has a proven oracle convention and they
    compose: NFKC normalization is the IDENTITY on the ASCII fixture
    (the codepoint==byte contract multimodal_pcm_energy pins — a
    non-ASCII corpus would have failed that green row), so quality
    (_QUALITY_SQL, expression-for-expression), language (_LANG_CASE),
    token counts, the unigram-surprisal model (text_unigram_surprisal's
    CTE chain), the min-id exact dedup (partition by trim(text) ≡ the
    Spark md5-of-text partition), the md5-threshold corpus mix
    (corpus_mix_weighted's rule), and the recursive packing walk
    (pack_sequences_2k's CTE at budget 512) all replay exactly."""
    evens = ", ".join(f"'src{i}'" for i in range(0, 20, 2))
    odds = " OR ".join(
        f"(source = 'src{i}' AND "
        "substr(md5(CAST(doc_id AS VARCHAR) || '|mix0'), 1, 4)"
        " < '8000')"
        for i in range(1, 20, 2)
    )
    return rf"""WITH RECURSIVE toks AS (
                 SELECT doc_id,
                        unnest(regexp_split_to_array(lower(trim(text)),
                                                     '\s+')) AS term
                 FROM documents),
               t2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
               doc_tf AS (SELECT doc_id, term, COUNT(*) AS tf_doc
                          FROM t2 GROUP BY 1, 2),
               vocab AS (SELECT term, CAST(SUM(tf_doc) AS BIGINT) AS tf
                         FROM doc_tf GROUP BY 1),
               tot AS (SELECT CAST(SUM(tf) AS DOUBLE) AS total
                       FROM vocab),
               sc AS (SELECT doc_tf.doc_id, doc_tf.tf_doc,
                             CAST(FLOOR(-ln(CAST(tf AS DOUBLE) / total)
                                        * 1000000.0) AS BIGINT) AS s_e6
                      FROM doc_tf JOIN vocab
                        ON doc_tf.term = vocab.term
                      CROSS JOIN tot),
               surp AS (SELECT doc_id,
                               CAST(SUM(tf_doc * s_e6) AS DOUBLE)
                                 / CAST(SUM(tf_doc) AS DOUBLE)
                                 AS avg_surprisal_e6
                        FROM sc GROUP BY 1),
               q AS (SELECT doc_id, source, text,
                            {_QUALITY_SQL} AS quality,
                            {_LANG_CASE} AS lang_pred,
                            CAST(len(regexp_extract_all(text, '\S+'))
                                 AS BIGINT) AS n_tokens
                     FROM documents),
               filt AS (SELECT q.doc_id, q.source, q.text, q.n_tokens
                        FROM q JOIN surp USING (doc_id)
                        WHERE q.quality >= 0.5 AND q.lang_pred = 'en'
                          AND surp.avg_surprisal_e6 < 12000000),
               ded AS (SELECT doc_id, source, n_tokens FROM (
                         SELECT f.*, MIN(doc_id) OVER (
                           PARTITION BY trim(text)) AS keep
                         FROM filt f) WHERE doc_id = keep),
               mixed AS (SELECT doc_id, source, n_tokens FROM ded
                         WHERE source IN ({evens}) OR {odds}),
               r AS (SELECT source, doc_id, n_tokens,
                            ROW_NUMBER() OVER (PARTITION BY source
                                               ORDER BY doc_id) AS rn
                     FROM mixed),
               walk AS (
                 SELECT source, rn, doc_id, n_tokens,
                        CAST(0 AS BIGINT) AS bin_id,
                        n_tokens AS running
                 FROM r WHERE rn = 1
                 UNION ALL
                 SELECT r.source, r.rn, r.doc_id, r.n_tokens,
                        CASE WHEN w.running + r.n_tokens > 512
                             THEN w.bin_id + 1 ELSE w.bin_id END,
                        CASE WHEN w.running + r.n_tokens > 512
                             THEN r.n_tokens
                             ELSE w.running + r.n_tokens END
                 FROM walk w JOIN r
                   ON r.source = w.source AND r.rn = w.rn + 1)
              SELECT doc_id, source, n_tokens, bin_id FROM walk"""


@register(
    "pipeline_pretrain_mix",
    oracle=_pretrain_mix_oracle(),
    tags=("pipeline", "dedup", "text", "pandas_udf"),
)
def pipeline_pretrain_mix(spark, sf_dir):
    # The FULL pretraining-data pipeline as one lazy composition:
    #   normalize (NFKC) -> language filter -> quality + LM-surprisal
    #   filters -> exact dedup (min-id survivor) -> per-source corpus
    #   mix -> context-window sequence packing.
    # VALUE-HASH-CHECKED end to end (r13 conversion, was rows-only):
    # every stage already had a proven oracle convention and the
    # composition replays exactly (see _pretrain_mix_oracle's note) —
    # grading not just each operator but the hand-offs between them.
    # Invariants remain pytest-asserted
    # (tests/test_sampling.py::test_pipeline_pretrain_mix_invariants).
    from pyspark.sql import Window

    from ..functions.pandas_ops import pack_sequences
    from ..functions.sampling import mix_corpus

    docs = _docs(spark, sf_dir)
    norm = text.normalize_unicode(docs).select(
        "doc_id", F.col("norm_text").alias("text")
    )
    docs2 = norm.join(docs.select("doc_id", "source"), "doc_id")
    enriched = docs2.select(
        "doc_id",
        "source",
        "text",
        text.quality_score(F.col("text")).alias("quality"),
        text.language_id(F.col("text")).alias("lang_pred"),
        text.token_count(F.col("text")).alias("n_tokens"),
    )
    filt = enriched.filter(
        (F.col("quality") >= 0.5) & (F.col("lang_pred") == "en")
    )
    # LM filter: drop the extreme-surprisal tail (junk) per the corpus
    # model; the join keys the per-doc scores back onto the survivors
    surp = text.unigram_surprisal(docs2).select(
        "doc_id", "avg_surprisal_e6"
    )
    filt = (
        filt.join(surp, "doc_id")
        .filter(F.col("avg_surprisal_e6") < 12_000_000)  # < ~12 nats/token
        .drop("avg_surprisal_e6")
    )
    w = Window.partitionBy(F.md5(F.encode(F.trim(F.col("text")), "UTF-8")))
    deduped = (
        filt.withColumn("__keep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("__keep"))
        .drop("__keep")
    )
    # fixture sources are src0..src19: keep evens fully, odds at 50%
    rates = {f"src{i}": (1.0 if i % 2 == 0 else 0.5) for i in range(20)}
    mixed = mix_corpus(deduped, rates)
    packed = pack_sequences(mixed, budget=512)
    return packed.select("doc_id", "source", "n_tokens", "bin_id")


@register(
    "freq_cms_estimates",
    oracle=r"""WITH toks AS (
                 SELECT unnest(list_filter(
                          regexp_split_to_array(lower(trim(text)), '\s+'),
                          x -> x <> '')) AS term
                 FROM documents),
                   seeds AS (SELECT unnest(range(4)) AS d),
                   cells AS (
                 SELECT d,
                        CAST('0x' || substr(md5(d || ':' || term), 1, 5)
                             AS BIGINT) % 8192 AS w,
                        COUNT(*) AS cnt
                 FROM toks, seeds GROUP BY 1, 2),
                   probes AS (
                 SELECT term FROM toks GROUP BY term
                 ORDER BY COUNT(*) DESC, term ASC LIMIT 20),
                   pc AS (
                 SELECT p.term, s.d,
                        CAST('0x' || substr(md5(s.d || ':' || p.term), 1, 5)
                             AS BIGINT) % 8192 AS w
                 FROM probes p, seeds s)
              SELECT pc.term, CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est
              FROM pc LEFT JOIN cells c ON c.d = pc.d AND c.w = pc.w
              GROUP BY pc.term""",
    tags=("frequency", "sketch"),
)
def freq_cms_estimates(spark, sf_dir):
    # Count-min sketch point-frequency estimates for the exact top-20
    # terms — VALUE-HASH-CHECKED cell for cell: the sketch is pinned to
    # md5 cell placement here (frequency._cms_hashes md5 mode), which
    # DuckDB replays exactly, so the oracle rebuilds the same counters
    # and must land the same estimates. xxhash64 stays the scale
    # default; the one-sided error guarantee and exact merge linearity
    # are pytest-asserted in test_corpus_quality.py either way.
    from ..functions.frequency import (
        _tokens,
        cms_build,
        cms_estimate,
        heavy_hitters,
    )

    docs = _docs(spark, sf_dir)
    toks = _tokens(docs, "text")
    sketch = cms_build(toks, depth=4, width=8192, hash_fn="md5")
    probes = heavy_hitters(docs, k=20, cap=65_536).select("term")
    return cms_estimate(
        sketch, probes, depth=4, width=8192, hash_fn="md5"
    )


@register("classifier_lang_logit", oracle=None, tags=("regression", "ml", "classifier"))
def classifier_lang_logit(spark, sf_dir):
    # In-database LOGISTIC regression (IRLS): per Newton step one
    # sufficient-statistics aggregation (gradient + Hessian sums),
    # d×d solve on the driver, sigmoid-codegen scoring — the binary
    # quality/language classifier stage of a corpus pipeline with
    # zero UDFs. Rows-only (float sums are order-dependent);
    # coefficients are numpy-IRLS differential-tested in
    # tests/test_similarity.py.
    from ..functions.regression import logistic_fit, predict_proba_expr
    from ..functions.text import stopword_ratio, token_count

    d = _docs(spark, sf_dir).select(
        "doc_id",
        (F.col("lang") == "en").cast("double").alias("is_en"),
        stopword_ratio(F.col("text")).alias("sw_ratio"),
        (F.length("text") / (token_count(F.col("text")) + F.lit(1.0))).alias(
            "avg_tok_len"
        ),
    ).cache()
    coefs, b0 = logistic_fit(d, ["sw_ratio", "avg_tok_len"], "is_en", iters=10, l2=1e-4)
    p = predict_proba_expr(coefs, b0)
    return d.select(
        "doc_id",
        p.alias("p_en"),
        (p > 0.5).alias("pred_en"),
        F.col("is_en").cast("boolean").alias("true_en"),
    )


@register(
    "sim_int8_topk",
    oracle="""WITH e AS (SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
         s AS (SELECT vec_id, v,
                      GREATEST(list_max(list_transform(v, x -> ABS(x)))
                               / 127.0, 1e-30) AS sc
               FROM e),
         q8 AS (SELECT vec_id,
                       list_transform(
                         v, x -> CAST(FLOOR(x / sc + 0.5) AS BIGINT)) AS q
                FROM s),
         qs AS (SELECT vec_id AS query_id, q AS qq
                FROM q8 WHERE vec_id % 199 = 0),
         pairs AS (SELECT qs.query_id, c.vec_id AS neighbor_id,
                          CAST(list_dot_product(qs.qq, c.q) AS BIGINT) AS qd,
                          CAST(list_dot_product(c.q, c.q) AS BIGINT) AS cd
                   FROM qs, q8 c WHERE c.vec_id <> qs.query_id),
         r AS (SELECT *,
                      ROW_NUMBER() OVER (
                        PARTITION BY query_id
                        ORDER BY CAST(qd * ABS(qd) AS DOUBLE)
                                 / CAST(cd AS DOUBLE) DESC,
                                 neighbor_id ASC) AS rk
               FROM pairs)
    SELECT query_id, neighbor_id, CAST(rk AS INTEGER) AS rank,
           qd AS dot_q, cd AS cnorm2
    FROM r WHERE rk <= 5""",
    tags=("similarity", "quantization"),
)
def sim_int8_topk(spark, sf_dir):
    # Scalar-quantized (SQ8) brute-force top-k, VALUE-HASH-CHECKED:
    # the r11 conversion note executed — the quantizer is pinned to
    # floor(x/scale + 0.5) (numpy rint is banker's, DuckDB round() is
    # half-away: the MODE is what the md5-hash-mode precedent pins),
    # the ranking key is the rational sign(dot)*dot^2/|c|^2 from
    # EXACT int64 dot products (the one double division is correctly
    # rounded identically everywhere), and the output is integers
    # only. int8_topk (HALF_UP + float cosine) stays the scale
    # default; recall>0.9 vs the float path is pytest-asserted in
    # test_similarity.py for BOTH variants.
    from ..functions.similarity import int8_topk_exact

    emb = _emb_double(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 199 == 0)
    return int8_topk_exact(emb, queries, k=5)


@register(
    "vector_centroid_drift",
    oracle="""WITH e AS (SELECT vec_id, label,
                                unnest(embedding) AS val,
                                generate_subscripts(embedding, 1) - 1 AS pos,
                                vec_id % 2 = 0 AS a
                         FROM embeddings),
                   q AS (SELECT label, pos, a,
                                CAST(FLOOR(CAST(val AS DOUBLE) * 1000000.0)
                                     AS BIGINT) AS qv
                         FROM e),
                   d AS (SELECT label, pos,
                                SUM(CASE WHEN a THEN qv ELSE 0 END) AS sa,
                                CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na,
                                SUM(CASE WHEN NOT a THEN qv ELSE 0 END) AS sb,
                                CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS nb
                         FROM q GROUP BY 1, 2)
              SELECT label,
                     CAST(SUM(ABS(sa * nb - sb * na)) AS BIGINT) AS drift_num,
                     MAX(na) AS n_a, MAX(nb) AS n_b
              FROM d GROUP BY 1""",
    tags=("vectors", "drift", "aggregate"),
)
def vector_centroid_drift(spark, sf_dir):
    # Cohort drift over the embedding table (even vs odd ids as the
    # deterministic stand-in for day-over-day): integer cross-product
    # drift numerator per label — engine-exact, monotone in centroid
    # gap (functions/vectors.py centroid_drift).
    from ..functions.vectors import centroid_drift

    emb = load_table(spark, sf_dir, "embeddings")
    return centroid_drift(emb, F.col("vec_id") % 2 == 0)


@register(
    "freq_join_cardinality_est",
    oracle="""WITH seeds AS (SELECT unnest(range(4)) AS d),
                   oc AS (
                 SELECT d,
                        CAST('0x' || substr(md5(
                               d || ':' || CAST(o_orderkey AS VARCHAR)),
                             1, 5) AS BIGINT) % 16384 AS w,
                        COUNT(*) AS a_cnt
                 FROM orders, seeds GROUP BY 1, 2),
                   lc AS (
                 SELECT d,
                        CAST('0x' || substr(md5(
                               d || ':' || CAST(l_orderkey AS VARCHAR)),
                             1, 5) AS BIGINT) % 16384 AS w,
                        COUNT(*) AS b_cnt
                 FROM lineitem, seeds GROUP BY 1, 2),
                   ip AS (
                 SELECT oc.d, SUM(oc.a_cnt * lc.b_cnt) AS p
                 FROM oc JOIN lc ON lc.d = oc.d AND lc.w = oc.w
                 GROUP BY 1)
              SELECT CAST(MIN(p) AS BIGINT) AS est FROM ip""",
    tags=("frequency", "sketch", "join"),
)
def freq_join_cardinality_est(spark, sf_dir):
    # CMS inner-product join-size estimate (orders ⋈ lineitem on
    # orderkey) from two key sketches — never an undercount; the true
    # size and tightness are pytest-asserted. Pinned to md5 cell
    # placement so the oracle rebuilds both sketches and the per-row
    # inner products EXACTLY (value-hash-checked estimator, not just a
    # plausibility bound). The sketches see only the key columns; the
    # estimate never touches either table again.
    from ..functions.frequency import cms_build, cms_inner_product

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("term")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("term")
    )
    return cms_inner_product(
        cms_build(o, width=16384, hash_fn="md5"),
        cms_build(li, width=16384, hash_fn="md5"),
    )


@register(
    "timeseries_ewma_user_value",
    oracle="""WITH e AS (SELECT user_id, event_id,
                     CAST(FLOOR(value * 100) AS BIGINT) AS cents
                     FROM events WHERE user_id % 53 = 0),
                   r AS (SELECT user_id, cents,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY event_id DESC) AS rn,
                     COUNT(*) OVER (PARTITION BY user_id) AS cnt
                     FROM e),
                   w AS (SELECT user_id, cents, rn,
                                LEAST(cnt, 32) AS m
                         FROM r WHERE rn <= 32)
              SELECT user_id, CAST(MAX(m) AS BIGINT) AS n_obs,
                     SUM(CAST(cents AS DOUBLE)
                         * CASE WHEN rn = m THEN power(0.5, m - 1)
                                ELSE power(0.5, rn) END) AS ewma_cents
              FROM w GROUP BY user_id""",
    tags=("timeseries", "pandas_udf"),
)
def timeseries_ewma_user_value(spark, sf_dir):
    # Per-user EWMA — the recursive smoother (s_t = a*x_t +
    # (1-a)*s_{t-1}) SQL windows cannot express, via ONE applyInPandas
    # pass per key group. Made EXACTLY cross-engine-checkable by
    # construction: alpha = 0.5 and integer-cent inputs make every
    # term a dyadic rational, and bounding the horizon to each user's
    # LAST 32 events keeps the terms' binary exponents within 49 bits
    # — so the sequential pandas recursion and DuckDB's closed-form
    # weighted sum are IEEE-identical in any summation order, no
    # quantization crutch. event_id orders the series (unique, so the
    # draw is partitioning-independent).
    from ..functions.pandas_ops import ewma_by_key
    from pyspark.sql import Window as W

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 53 == 0)
        .select(
            "user_id",
            "ts",
            "event_id",
            F.floor(F.col("value") * 100).cast("double").alias("cents"),
        )
    )
    rn = F.row_number().over(
        W.partitionBy("user_id").orderBy(F.col("event_id").desc())
    )
    last32 = ev.withColumn("__rn", rn).filter(F.col("__rn") <= 32)
    # the smoother orders by event_id (strictly increasing per user ->
    # deterministic); ts rides along for the output schema
    sm = ewma_by_key(
        last32.select(
            "user_id",
            F.timestamp_seconds("event_id").alias("__ord"),
            "cents",
        ),
        "user_id",
        "__ord",
        "cents",
        alpha=0.5,
        out_col="ewma",
    )
    final = sm.withColumn(
        "__rn",
        F.row_number().over(
            W.partitionBy("user_id").orderBy(F.col("__ord").desc())
        ),
    ).filter(F.col("__rn") == 1)
    counts = last32.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    return final.join(counts, "user_id").select(
        "user_id", "n_obs", F.col("ewma").alias("ewma_cents")
    )


@register(
    "pipeline_shard_manifest",
    oracle="""WITH keep AS (SELECT MIN(doc_id) AS doc_id
                            FROM documents GROUP BY md5(text))
              SELECT CAST(8 AS INTEGER) AS n_shards,
                     COUNT(*) AS total_rows,
                     MIN(doc_id) AS min_id,
                     MAX(doc_id) AS max_id
              FROM keep""",
    tags=("pipeline", "lake", "source", "data-skipping"),
)
def pipeline_shard_manifest(spark, sf_dir):
    # The LAST mile of the pretraining pipeline: the cleaned corpus
    # lands as size-balanced sorted shards (write_training_shards) and
    # is immediately converted into a transactional table whose first
    # commit carries per-shard min/max stats read from the footers
    # (txlog.tx_convert_parquet_dir) — so the very next consumer (a
    # data loader picking a doc_id range, a backfill re-reading one
    # slice) starts from data-skipping instead of a full listing.
    # Returns aggregates of the per-shard stats (file paths are
    # tmpdir-specific).
    import os
    import tempfile

    from ..functions.sampling import write_training_shards
    from ..sources import txlog

    docs = _docs(spark, sf_dir)
    # min-id survivor per exact text hash (one groupBy + semi-join)
    keep = (
        docs.groupBy(F.md5(F.encode("text", "UTF-8")).alias("__h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    clean = docs.join(keep, "doc_id", "leftsemi")
    root = tempfile.mkdtemp(prefix="shards_")
    t = os.path.join(root, "corpus")
    write_training_shards(clean, t, n_shards=8, sort_col="doc_id")
    table = os.path.join(root, "table")
    txlog.tx_convert_parquet_dir(spark, t, table, stats_cols=["doc_id"])
    # answer FROM THE COMMIT'S STATS alone (the consumer's view: no
    # shard is opened) — the oracle recomputes the same invariants
    # from the dedup'd corpus directly, so the hash proves the stats'
    # bookkeeping (per-shard counts and id ranges) is lossless. Shard
    # membership itself is Spark's hash partitioning and deliberately
    # NOT asserted; per-shard sortedness is pytest-asserted.
    stats = txlog.snapshot_stats(table).values()
    assert all("doc_id" in s["c"] for s in stats), "every shard has stats"
    typ = clean.schema["doc_id"].dataType.simpleString()
    return spark.range(1).select(
        F.lit(len(stats)).cast("integer").alias("n_shards"),
        F.lit(sum(s["n"] for s in stats)).cast("long").alias("total_rows"),
        F.lit(min(s["c"]["doc_id"][0] for s in stats)).cast(typ).alias("min_id"),
        F.lit(max(s["c"]["doc_id"][1] for s in stats)).cast(typ).alias("max_id"),
    )


@register(
    "graph_bfs_hops",
    oracle="""WITH RECURSIVE b AS (
                SELECT DISTINCT event_type,
                       date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
                       user_id
                FROM events),
                   e0 AS (
                SELECT DISTINCT l.user_id AS src, r.user_id AS dst
                FROM b l JOIN b r
                  ON l.event_type = r.event_type AND l.hr = r.hr
                 AND l.user_id < r.user_id),
                   e AS (SELECT src, dst FROM e0
                         UNION SELECT dst, src FROM e0),
                   s AS (SELECT MIN(user_id) AS v FROM events),
                   walk(node, hops) AS (
                     SELECT v, 0 FROM s
                     UNION
                     SELECT e.dst, w.hops + 1
                     FROM walk w JOIN e ON e.src = w.node
                     WHERE w.hops < 4)
              SELECT node, CAST(MIN(hops) AS INTEGER) AS hops
              FROM walk GROUP BY node""",
    tags=("graph", "iterative"),
)
def graph_bfs_hops(spark, sf_dir):
    # Single-source BFS (shortest hops) from the smallest user id over
    # the co-occurrence graph, vs a DuckDB recursive-CTE closure of
    # the same graph. The one driver-side scalar is the source id —
    # a model parameter, not data.
    from ..functions.graph import bfs_hops, cooccurrence_edges

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr"), "user_id"
    )
    edges = cooccurrence_edges(ev, ["event_type", "hr"], "user_id")
    source = ev.agg(F.min("user_id")).collect()[0][0]
    return bfs_hops(edges, source, max_hops=4)


@register(
    "graph_sssp_weighted",
    oracle="""WITH RECURSIVE b AS (
                SELECT DISTINCT event_type,
                       date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
                       user_id
                FROM events WHERE user_id % 5 = 0),
                   e0 AS (
                SELECT DISTINCT l.user_id AS src, r.user_id AS dst
                FROM b l JOIN b r
                  ON l.event_type = r.event_type AND l.hr = r.hr
                 AND l.user_id < r.user_id),
                   ew AS (SELECT src, dst,
                                 1 + (src + dst) % 3 AS w
                          FROM e0),
                   e AS (SELECT src, dst, w FROM ew
                         UNION SELECT dst, src, w FROM ew),
                   s AS (SELECT MIN(user_id) AS v FROM events
                         WHERE user_id % 5 = 0),
                   walk(node, cost, hops) AS (
                     SELECT v, CAST(0 AS BIGINT), 0 FROM s
                     UNION
                     SELECT e.dst, w.cost + e.w, w.hops + 1
                     FROM walk w JOIN e ON e.src = w.node
                     WHERE w.hops < 3)
              SELECT node, CAST(MIN(cost) AS BIGINT) AS cost
              FROM walk GROUP BY node""",
    tags=("graph", "iterative", "join"),
)
def graph_sssp_weighted(spark, sf_dir):
    # Weighted single-source shortest paths (functions/graph.py
    # sssp_weighted, distributed Bellman-Ford) over the co-occurrence
    # graph with deterministic integer edge weights, vs DuckDB's
    # hop-bounded recursive path closure of the SAME graph. 3 relax
    # rounds == min cost over paths of <= 3 edges — the bound is the
    # shared contract, so costs value-hash exactly.
    from ..functions.graph import cooccurrence_edges, sssp_weighted

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 5 == 0
    ).select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr"), "user_id"
    )
    edges = cooccurrence_edges(ev, ["event_type", "hr"], "user_id").select(
        "src", "dst", (1 + (F.col("src") + F.col("dst")) % 3).alias("w")
    )
    source = ev.agg(F.min("user_id")).collect()[0][0]
    return sssp_weighted(edges, source, max_rounds=3)


@register(
    "multimodal_phash_neardup",
    # DuckDB replay of the ENTIRE image near-dup pipeline from the
    # document characters (ASCII fixture: codepoint == payload byte,
    # the multimodal_pcm_energy contract): 16 pixel gray sums (the
    # dHash compares (r+g+b)/3 float means, but /3 is monotone and
    # exact-tie-preserving on sums <= 765, so comparing the INTEGER
    # 3-byte sums is bit-equivalent), the 9x8 nearest-resize index
    # gather replayed as closed-form (r//2)*4 + c*4//9 lattice
    # lookups, MSB-first 64-bit packing with the sign bit as the
    # two's-complement offset, then the naive all-pairs hamming <= 1
    # join — which the pigeonhole block join must reproduce EXACTLY
    # (lossless candidates, the dedup_simhash oracle pattern).
    oracle="""WITH t AS (SELECT doc_id, substr(text, 1, 48) AS s
                         FROM documents),
         pix AS (
           SELECT t.doc_id, kk.k,
                  (CASE WHEN length(s) >= 3*kk.k + 1
                        THEN unicode(substr(s, 3*kk.k + 1, 1))
                        ELSE 120 END
                 + CASE WHEN length(s) >= 3*kk.k + 2
                        THEN unicode(substr(s, 3*kk.k + 2, 1))
                        ELSE 120 END
                 + CASE WHEN length(s) >= 3*kk.k + 3
                        THEN unicode(substr(s, 3*kk.k + 3, 1))
                        ELSE 120 END) AS s3
           FROM t, (SELECT unnest(range(16)) AS k) kk),
         arr AS (SELECT doc_id, list(s3 ORDER BY k) AS a
                 FROM pix GROUP BY doc_id),
         bits AS (
           SELECT arr.doc_id, jj.j,
                  CASE WHEN a[(jj.j // 8) // 2 * 4
                              + ((jj.j % 8) + 1) * 4 // 9 + 1]
                        > a[(jj.j // 8) // 2 * 4
                            + (jj.j % 8) * 4 // 9 + 1]
                       THEN 1 ELSE 0 END AS b
           FROM arr, (SELECT unnest(range(64)) AS j) jj),
         sig AS (
           SELECT doc_id,
                  CAST(SUM(CASE WHEN b = 0 THEN 0
                                WHEN j = 0
                                THEN -9223372036854775807 - 1
                                ELSE CAST(1 AS BIGINT) << (63 - j)
                           END) AS BIGINT) AS sh
           FROM bits GROUP BY doc_id),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
    SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 1""",
    tags=("multimodal", "dedup", "pandas_udf", "decode"),
)
def multimodal_phash_neardup(spark, sf_dir):
    # Image near-dup end-to-end on REAL decoded pixels, VALUE-HASH-
    # CHECKED (r13 conversion, was rows-only): each doc's text is
    # packaged as a tiny P6 PPM (header + first 48 UTF-8 bytes = 4x4
    # RGB, 'x'-padded), the netpbm decoder parses it back
    # (functions/multimodal.py decode_image — a real parser, not a
    # byte copy), phash64 runs grayscale -> 9x8 nearest-resize ->
    # difference bits in one Arrow pass, and the pigeonhole
    # hamming-block join (shared with text SimHash) emits near-dup
    # pairs. Every stage is integer-decidable (see the oracle note),
    # so the full multimodal->dedup path — decode, resize lattice,
    # bit packing, block join — grades under the driver's value hash;
    # pixel-exact decoder behavior is additionally asserted in
    # tests/test_multimodal_decode.py.
    from ..functions import multimodal

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.encode(F.lit("P6 4 4 255\n"), "UTF-8"),
            F.rpad(
                F.substring(F.encode(F.col("text"), "UTF-8"), 1, 48),
                48,
                F.lit(b"x"),
            ),
        ).alias("payload"),
    )
    return multimodal.image_neardup_pairs(
        docs, max_hamming=1, blocks=2
    ).select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


@register(
    "corpus_mix_token_budget",
    oracle="""WITH t AS (SELECT doc_id, source,
                                CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tok,
                                md5(CAST(doc_id AS VARCHAR) || '|mixtok0') AS rk
                         FROM documents),
                   c AS (SELECT doc_id, source, n_tok,
                                SUM(n_tok) OVER (PARTITION BY source
                                                 ORDER BY rk, doc_id
                                                 ROWS UNBOUNDED PRECEDING)
                                  - n_tok AS cum_before
                         FROM t)
              SELECT doc_id, source, n_tok
              FROM c
              WHERE cum_before < CASE source WHEN 'src0' THEN 200
                                             WHEN 'src1' THEN 1000
                                             ELSE 500 END""",
    tags=("sampling", "pipeline", "mixing", "window"),
)
def corpus_mix_token_budget(spark, sf_dir):
    # Token-budget corpus mixing: greedily draw docs per source in the
    # deterministic md5(id|salt) order until the source's TOKEN budget
    # fills (corpus_mix_weighted rations by document count; training
    # recipes ration by tokens). Pure function of (ids, salt) — the
    # oracle replays the same greedy prefix in SQL.
    from ..functions.sampling import mix_corpus_token_budget

    return mix_corpus_token_budget(
        _docs(spark, sf_dir),
        default_budget=500,
        overrides={"src0": 200, "src1": 1000},
    )


@register(
    "dedup_clusters_star",
    oracle=f"""WITH RECURSIVE {_JACCARD_PAIRS_CTE},
               nodes AS (SELECT id_a AS id FROM pairs
                         UNION SELECT id_b FROM pairs),
               edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                         UNION SELECT id_b AS u, id_a AS v FROM pairs),
               cc(id, lbl) AS (
                 SELECT id, id FROM nodes
                 UNION
                 SELECT e.u, cc.lbl FROM edges e JOIN cc ON cc.id = e.v)
               SELECT id, MIN(lbl) AS cluster_id FROM cc GROUP BY id""",
    tags=("dedup", "clustering", "iterative", "graph"),
)
def dedup_clusters_star(spark, sf_dir):
    # Same components, different algorithm: alternating large/small
    # star contraction (O(log n) rounds vs label propagation's
    # O(diameter)) over the same deterministic jaccard pairs, against
    # the same recursive-CTE oracle — two independent distributed
    # implementations and a third engine all agreeing.
    from ..functions.graph import connected_components_star

    pairs = dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), max_shingle_df=None)
    return connected_components_star(pairs.select("id_a", "id_b"))


@register(
    "event_transition_matrix",
    oracle="""WITH seq AS (
                SELECT lag(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)
                         AS from_state,
                       event_type AS to_state
                FROM events),
              pairs AS (SELECT from_state, to_state, COUNT(*) AS n
                        FROM seq WHERE from_state IS NOT NULL
                        GROUP BY from_state, to_state),
              tot AS (SELECT from_state, CAST(SUM(n) AS BIGINT) AS n_from
                      FROM pairs GROUP BY from_state)
              SELECT p.from_state, p.to_state, p.n,
                     CAST((p.n * 1000000) // t.n_from AS BIGINT) AS p_e6
              FROM pairs p JOIN tot t ON p.from_state = t.from_state""",
    tags=("analytics", "window", "markov", "sessionize"),
)
def event_transition_matrix(spark, sf_dir):
    # First-order Markov transition matrix over per-user event
    # sequences (operators/sessionize.py transition_counts): adjacent
    # (from, to) state counts and the conditional P(to | from),
    # quantized by integer division so both engines hash identically.
    # The behavioral-analytics primitive behind next-action prediction
    # and funnel leak detection.
    from ..operators.sessionize import transition_counts

    ev = load_table(spark, sf_dir, "events")
    return transition_counts(ev)


@register(
    "graph_kcore_cooccurrence",
    # DuckDB replay of the peeling FIXPOINT by unrolled monotone
    # rounds: recursive CTEs can't aggregate over the recursion, but
    # peeling is monotone — once converged, extra rounds are no-ops —
    # so R unrolled restriction rounds compute the exact k-core
    # whenever the fixture converges within R. The fixture converges
    # in ONE round (measured at sf0.001/sf0.01; the co-occurrence
    # graph is dense); R=4 is margin, and the Spark side runs to true
    # fixpoint either way, so agreement IS the convergence proof.
    oracle="""WITH b AS (
                SELECT DISTINCT event_type,
                       date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
                       user_id
                FROM events),
              p AS (
                SELECT DISTINCT l.user_id AS src, r.user_id AS dst
                FROM b l JOIN b r
                  ON l.event_type = r.event_type AND l.hr = r.hr
                 AND l.user_id < r.user_id),
              e0 AS (SELECT src AS u, dst AS v FROM p
                     UNION SELECT dst, src FROM p),
              d1 AS (SELECT u, COUNT(*) AS degree FROM e0 GROUP BY u),
              k1 AS (SELECT u FROM d1 WHERE degree >= 4),
              e1 AS (SELECT e.u, e.v FROM e0 e
                     JOIN k1 a ON a.u = e.u
                     JOIN k1 bb ON bb.u = e.v),
              d2 AS (SELECT u, COUNT(*) AS degree FROM e1 GROUP BY u),
              k2 AS (SELECT u FROM d2 WHERE degree >= 4),
              e2 AS (SELECT e.u, e.v FROM e1 e
                     JOIN k2 a ON a.u = e.u
                     JOIN k2 bb ON bb.u = e.v),
              d3 AS (SELECT u, COUNT(*) AS degree FROM e2 GROUP BY u),
              k3 AS (SELECT u FROM d3 WHERE degree >= 4),
              e3 AS (SELECT e.u, e.v FROM e2 e
                     JOIN k3 a ON a.u = e.u
                     JOIN k3 bb ON bb.u = e.v),
              d4 AS (SELECT u, COUNT(*) AS degree FROM e3 GROUP BY u),
              k4 AS (SELECT u FROM d4 WHERE degree >= 4),
              e4 AS (SELECT e.u, e.v FROM e3 e
                     JOIN k4 a ON a.u = e.u
                     JOIN k4 bb ON bb.u = e.v),
              df AS (SELECT u, COUNT(*) AS degree FROM e4 GROUP BY u)
             SELECT u AS node, degree FROM df WHERE degree >= 4""",
    tags=("graph", "iterative"),
)
def graph_kcore_cooccurrence(spark, sf_dir):
    # k-core decomposition (iterative peeling, functions/graph.py
    # kcore) of the user co-occurrence graph — the dense backbone that
    # survives after repeatedly shedding weakly-connected users.
    # VALUE-HASH-CHECKED (r13 conversion, was rows-only): degrees and
    # the peel decision are pure integer math, so the unrolled oracle
    # above replays the fixpoint exactly (see its note). The
    # differential pytest against a pure-Python peeling reference
    # remains (tests/test_graph_kcore.py).
    from ..functions.graph import cooccurrence_edges, kcore

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr"), "user_id"
    )
    edges = cooccurrence_edges(ev, ["event_type", "hr"], "user_id")
    return kcore(edges, k=4)


# --------------------------------------------------------------------------
# Round-10 additions: an exact vector-space affinity aggregate and the
# audio-energy window math as an oracle-checked row.
# --------------------------------------------------------------------------
_AFFINITY_SQL = f"""WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings WHERE vec_id % 5 = 0),
p AS (SELECT a.label = b.label AS same_label,
             CAST(FLOOR(1000000 * ({_cos_sql('a.emb', 'b.emb')}))
                  AS BIGINT) AS cos_e6
      FROM e a, e b WHERE a.vec_id < b.vec_id)
SELECT same_label, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(cos_e6) AS BIGINT) AS sum_cos_e6,
       CAST(MIN(cos_e6) AS BIGINT) AS min_cos_e6,
       CAST(MAX(cos_e6) AS BIGINT) AS max_cos_e6
FROM p GROUP BY same_label"""


@register(
    "vector_label_affinity",
    oracle=_AFFINITY_SQL,
    tags=("vectors", "similarity", "aggregate"),
)
def vector_label_affinity(spark, sf_dir):
    # Embedding-space CLASS SEPARATION: within-label vs cross-label
    # pairwise cosine, the eval metric that says whether an embedding
    # column is worth clustering on. Per-pair cosines are bit-equal
    # across engines (identical sequential fold, the
    # embedding_cosine_neardup convention) and quantize to integer
    # micro-units BEFORE the cross-row sum, so the aggregate is exact
    # integer math — no float accumulation order anywhere. The sampled
    # pair set is all-pairs over a 1-in-5 slice: the oracle needs the
    # exact set, and the scale path for this shape (LSH bucketing) is
    # embedding_neardup_lsh.
    e = _emb_double(spark, sf_dir).filter(F.col("vec_id") % 5 == 0)
    a = e.select(
        F.col("vec_id").alias("id_a"), F.col("label").alias("la"),
        F.col("embedding").alias("u"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"), F.col("label").alias("lb"),
        F.col("embedding").alias("v"),
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b")).select(
        (F.col("la") == F.col("lb")).alias("same_label"),
        F.floor(
            F.lit(1_000_000.0)
            * similarity.cosine(F.col("u"), F.col("v"))
        ).cast("long").alias("cos_e6"),
    )
    return pairs.groupBy("same_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("cos_e6").cast("long").alias("sum_cos_e6"),
        F.min("cos_e6").cast("long").alias("min_cos_e6"),
        F.max("cos_e6").cast("long").alias("max_cos_e6"),
    )


@register(
    "multimodal_pcm_energy",
    oracle="""WITH c AS (
                SELECT doc_id,
                       generate_subscripts(string_split(text, ''), 1) - 1
                         AS pos,
                       unnest([unicode(ch)
                               for ch in string_split(text, '')]) AS cp
                FROM documents),
                   f AS (
                SELECT doc_id, CAST(pos // 64 AS INTEGER) AS frame_idx,
                       cp - 96 AS s
                FROM c)
              SELECT doc_id, frame_idx,
                     CAST(COUNT(*) AS BIGINT) AS n_samples,
                     CAST(SUM(s * s) AS BIGINT) AS energy
              FROM f GROUP BY 1, 2""",
    tags=("multimodal", "audio", "aggregate"),
)
def multimodal_pcm_energy(spark, sf_dir):
    # The WINDOWED-ENERGY computation of
    # functions/multimodal.audio_window_energy as an exactly-oracled
    # row: each document's byte stream (the fixture corpus is ASCII,
    # so character codepoints ARE the payload bytes) plays the PCM-8
    # samples, 64-sample frames, per-frame sum of squared centered
    # samples — all integer math, bit-equal on both engines. The
    # decode-dependent twin (real WAV containers, rFFT spectra) stays
    # rows-only in multimodal_audio_spectral; this row puts the
    # framing + energy arithmetic itself under the driver's
    # value-hash.
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), "")).alias("pos", "ch"),
    ).filter(F.col("ch") != "")
    f = d.select(
        "doc_id",
        (F.col("pos") / 64).cast("int").alias("frame_idx"),
        (F.ascii("ch") - 96).alias("s"),
    )
    return f.groupBy("doc_id", "frame_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_samples"),
        F.sum(F.col("s") * F.col("s")).cast("long").alias("energy"),
    )
