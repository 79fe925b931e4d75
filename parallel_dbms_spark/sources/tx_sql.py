"""SQL surface for the transactional lake — ``tx_sql(spark, sql)``.

The reference engine's ONLY entry point is a SQL string
(/root/reference/src/main.cpp:719-794); this repo's lake operations
(rename/drop column, constraints, identity, OPTIMIZE, VACUUM,
RESTORE, DESCRIBE DETAIL/HISTORY, ...) were Python-API-only. This
module routes the standard lakehouse DDL/DML dialect (Delta's SQL
surface, re-expressed) to the :mod:`txlog` API, so a user can drive
the whole table lifecycle through the SQL door:

    CREATE TABLE t (k BIGINT, v STRING)
        [PARTITIONED BY (p)] [CLUSTER BY (k)]
    CREATE [OR REPLACE] TABLE t
        [PARTITIONED BY (p)] [CLUSTER BY (k)] AS SELECT ...
    CREATE TABLE t2 [SHALLOW] CLONE t [VERSION AS OF n]
    CREATE TABLE [IF NOT EXISTS] t2 LIKE t
    INSERT OVERWRITE [TABLE] t (SELECT ... | VALUES ...)
    CREATE BLOOMFILTER INDEX ON [TABLE] t FOR COLUMNS (k, ...)
    INSERT INTO t VALUES (...) | INSERT INTO t SELECT ...
    INSERT INTO t REPLACE WHERE pred (SELECT ... | VALUES ...)
    INSERT OVERWRITE [TABLE] t PARTITION (p = v, ...) (SELECT | VALUES)
    MERGE INTO t [AS a] USING (<select> | src) [AS b] ON a.k = b.k [...]
        [WHEN MATCHED [AND cond] THEN UPDATE SET (* | c = expr, ...)]
        [WHEN MATCHED [AND cond] THEN DELETE]
        [WHEN NOT MATCHED [AND cond] THEN INSERT (* | (cols) VALUES (...))]
        [WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET ... | DELETE]
    CREATE [OR REPLACE] VIEW v AS SELECT ... | DROP VIEW [IF EXISTS] v
    DROP TABLE [IF EXISTS] t
    UPDATE t SET v = expr [WHERE pred]
    DELETE FROM t [WHERE pred]
    SHOW TABLES | DESCRIBE [TABLE] t
    ALTER TABLE t ADD COLUMN c TYPE | ADD COLUMNS (a T, b T, ...)
    ALTER TABLE t ALTER COLUMN c TYPE WIDER_TYPE
    ALTER TABLE t RENAME COLUMN a TO b
    ALTER TABLE t DROP COLUMN a
    ALTER TABLE t ADD CONSTRAINT name CHECK (pred)
    ALTER TABLE t DROP CONSTRAINT name
    ALTER TABLE t CLUSTER BY (a, b) | CLUSTER BY NONE
    ALTER TABLE t ALTER COLUMN c SET DEFAULT expr | DROP DEFAULT
    ALTER TABLE t ALTER COLUMN c SET GENERATED {ALWAYS | BY DEFAULT}
        AS IDENTITY [(START WITH n [INCREMENT BY n])]
    ALTER TABLE t ALTER COLUMN c SYNC IDENTITY | DROP IDENTITY
    ALTER TABLE t SET TBLPROPERTIES ('delta.enableRowTracking'='true')
    OPTIMIZE t [WHERE col = v [AND ...]] [ZORDER BY (a, b)] [FULL]
    REORG TABLE t APPLY (PURGE)
    ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS a, b | FOR ALL COLUMNS]
    VACUUM t [RETAIN n HOURS] [DRY RUN]
    RESTORE [TABLE] t [TO] VERSION AS OF n | TIMESTAMP AS OF 'ts'
    COPY INTO t FROM '<dir>' FILEFORMAT = PARQUET|CSV|JSON
        [PATTERN = '<glob>'] [FORCE = true]
    CONVERT TO LAKE '<parquet dir>' AS t [PARTITIONED BY (a, b)]
        [COPY] [MERGE SCHEMA]
    TRUNCATE TABLE t
    ALTER TABLE t RENAME TO t2
    SHOW CREATE TABLE t | SHOW PARTITIONS t
    SHOW TBLPROPERTIES t | SHOW COLUMNS IN t
    FSCK REPAIR TABLE t [DRY RUN]
    GENERATE symlink_format_manifest FOR TABLE t
    DESCRIBE DETAIL t | DESCRIBE HISTORY t
    EXPLAIN [EXTENDED|FORMATTED] SELECT ...
    SELECT ... FROM table_changes('t', v1 [, v2]) ...
    SELECT ... FROM t [VERSION AS OF n | TIMESTAMP AS OF 'ts'] ...

Table identifiers resolve against ``base_dir`` (a bare name is a
subdirectory holding a ``_txlog/``); a backtick-quoted identifier may
contain any characters, and an ABSOLUTE one is taken literally —
Delta's ``delta.`/path``` convention without the scheme. SELECT statements register every referenced
lake table as a snapshot-isolated temp view (time-travel suffixes
rewritten per-reference) and then run through ``spark.sql`` —
Catalyst plans the query exactly as it would any DataFrame read, so
pushdown/pruning/skipping behavior is identical to the Python API.

Every statement is ONE dispatcher pass: parsing is regex-anchored on
the statement head, the heavy lifting stays in txlog (same conflict
rules, same O(files) metadata costs) — the SQL layer adds no
driver-side data movement at any scale.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from . import txlog

_IDENT = r"(`[^`]+`|[A-Za-z_][\w./-]*)"
_WS = r"\s+"


def _path(ident: str, base_dir: str) -> str:
    ident = ident.strip()
    if ident.startswith("`") and ident.endswith("`"):
        ident = ident[1:-1]  # backticks allow any characters
    if os.path.isabs(ident):
        return ident
    return os.path.join(base_dir, ident)


def _is_lake_table(path: str) -> bool:
    return os.path.isdir(os.path.join(path, txlog.TXLOG))


def _view_file(path: str) -> str:
    """A lake VIEW is a durable SQL text artifact next to the tables
    (``<name>.view.sql``): late-binding by construction — every query
    re-reads the definition and re-pins fresh table snapshots, so a
    view over a table that was written since always serves the new
    rows (standard SQL view semantics, unlike a pinned temp view)."""
    return path + ".view.sql"


def _result(spark: SparkSession, op: str, table: str, version,
            info: str = "") -> DataFrame:
    """Uniform one-row result frame for operation statements."""
    return spark.createDataFrame(
        [(op, table, None if version is None else int(version), info)],
        "op string, table string, version long, info string",
    )


def _literal(tok: str):
    tok = tok.strip()
    if tok.startswith("'") and tok.endswith("'"):
        return tok[1:-1]
    low = tok.lower()
    if low in ("true", "false"):
        return low == "true"
    try:
        return int(tok)
    except ValueError:
        return float(tok)


def _split_cols(s: str) -> list[str]:
    return [c.strip().strip("`") for c in s.split(",") if c.strip()]


def _split_top(s: str) -> list[str]:
    """Split on commas at paren/quote depth 0 (SET assignment lists,
    INSERT VALUES expression lists — expressions may contain calls
    and literals with commas)."""
    out, depth, in_str, start = [], 0, False, 0
    for i, ch in enumerate(s):
        if in_str:
            in_str = ch != "'"
        elif ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(s[start:i].strip())
            start = i + 1
    tail = s[start:].strip()
    if tail:
        out.append(tail)
    return out


_COL_SPEC_RE = re.compile(
    r"(?i)\b(?:DEFAULT|GENERATED|NOT\s+NULL|CHECK|CONSTRAINT)\b"
)


def _parse_create_columns(src: str) -> tuple[str, dict]:
    """CREATE TABLE column list with INLINE SPECS — the standard Delta
    DDL idiom ``id BIGINT GENERATED ALWAYS AS IDENTITY, d BIGINT
    DEFAULT 7 NOT NULL, v2 BIGINT GENERATED ALWAYS AS (d * 2),
    CONSTRAINT pos CHECK (d >= 0)`` — parsed into a bare DDL schema
    string plus the declaration actions the creating commit sequence
    applies through the existing ``tx_set_*`` verbs. Supported per
    column, any order after the type: ``NOT NULL`` (becomes an
    enforced ``<col> IS NOT NULL`` CHECK), ``DEFAULT <expr>`` (expr
    runs to the end of the item once other clauses are consumed),
    ``GENERATED ALWAYS AS (<expr>)`` (balanced parens), ``GENERATED
    {ALWAYS|BY DEFAULT} AS IDENTITY [(START WITH n INCREMENT BY m)]``;
    table level: ``[CONSTRAINT name] CHECK (<pred>)``. Items are split
    at paren-depth-0 commas, so a spec'd list may not also use bare
    ``MAP<k, v>``-style commas inside angle brackets (wrap the type's
    comma in parens or declare it via a bare CREATE + ALTER)."""
    specs: dict = {
        "defaults": {}, "generated": {}, "identity": {},
        "constraints": [], "not_null": [],
    }
    cols: list[str] = []
    for item in _split_top(src):
        m = re.match(
            r"(?is)^(?:CONSTRAINT\s+(\w+)\s+)?CHECK\s*\((.*)\)$", item
        )
        if m:
            specs["constraints"].append((
                m.group(1) or f"check_{len(specs['constraints'])}",
                m.group(2).strip(),
            ))
            continue
        m = re.match(r"(?is)^(`[^`]+`|\w+)\s+(.*)$", item)
        if not m:
            raise ValueError(f"bad CREATE TABLE column spec: {item!r}")
        name = m.group(1).strip("`")
        rest = m.group(2).strip()

        im = re.search(
            r"(?is)\bGENERATED\s+(ALWAYS|BY\s+DEFAULT)\s+AS\s+IDENTITY"
            r"(?:\s*\(\s*START\s+WITH\s+(-?\d+)\s+INCREMENT\s+BY\s+"
            r"(-?\d+)\s*\))?",
            rest,
        )
        if im:
            specs["identity"][name] = {
                "always": im.group(1).upper() == "ALWAYS",
                "start": int(im.group(2) or 1),
                "step": int(im.group(3) or 1),
            }
            rest = (rest[: im.start()] + " " + rest[im.end():]).strip()
        gm = re.search(r"(?is)\bGENERATED\s+ALWAYS\s+AS\s*\(", rest)
        if gm:
            depth, i = 1, gm.end()
            while i < len(rest) and depth:
                depth += {"(": 1, ")": -1}.get(rest[i], 0)
                i += 1
            if depth:
                raise ValueError(
                    f"unbalanced GENERATED ALWAYS AS parens: {item!r}"
                )
            specs["generated"][name] = rest[gm.end(): i - 1].strip()
            rest = (rest[: gm.start()] + " " + rest[i:]).strip()
        nm = re.search(r"(?i)\bNOT\s+NULL\b", rest)
        if nm:
            specs["not_null"].append(name)
            rest = (rest[: nm.start()] + " " + rest[nm.end():]).strip()
        dm = re.search(r"(?is)\bDEFAULT\s+(.+)$", rest)
        if dm:
            specs["defaults"][name] = dm.group(1).strip()
            rest = rest[: dm.start()].strip()
        if not rest:
            raise ValueError(f"column {name!r} is missing a type: {item!r}")
        cols.append(f"{name} {rest}")
    if not cols:
        raise ValueError("CREATE TABLE needs at least one data column")
    return ", ".join(cols), specs


def _apply_column_specs(spark: SparkSession, path: str, specs: dict) -> int:
    """Apply a parsed inline-spec dict through the declaration verbs
    (one commit each, same sequence a bare CREATE + ALTERs produces);
    returns the final version."""
    from . import txlog

    v = None
    for c, expr in sorted(specs["defaults"].items()):
        v = txlog.tx_set_default(path, c, expr)
    for c, expr in sorted(specs["generated"].items()):
        v = txlog.tx_set_generated(spark, path, c, expr)
    for c, ident in sorted(specs["identity"].items()):
        v = txlog.tx_set_identity(
            spark, path, c, start=ident["start"],
            step=ident["step"], always=ident["always"],
        )
    for c in specs["not_null"]:
        v = txlog.tx_set_constraint(
            spark, path, f"{c}_not_null", f"{c} IS NOT NULL"
        )
    for nm, pred in specs["constraints"]:
        v = txlog.tx_set_constraint(spark, path, nm, pred)
    if v is None:
        v = txlog.log_versions(path)[-1]
    return v


def _parse_partition_where(s: str) -> dict:
    """``col = v AND col2 IN (a, b)`` -> {col: v, col2: [a, b]} for
    txlog's partition_filter (equality/IN only — the strict scoping
    OPTIMIZE WHERE promises)."""
    out: dict = {}
    for clause in re.split(r"(?i)\s+AND\s+", s.strip()):
        m = re.fullmatch(
            rf"{_IDENT}\s*=\s*('[^']*'|[\w.+-]+)", clause.strip()
        )
        if m:
            out[m.group(1).strip("`")] = _literal(m.group(2))
            continue
        m = re.fullmatch(
            rf"{_IDENT}\s+IN\s*\(([^)]*)\)", clause.strip(),
            flags=re.IGNORECASE,
        )
        if m:
            out[m.group(1).strip("`")] = [
                _literal(x) for x in m.group(2).split(",")
            ]
            continue
        raise ValueError(
            f"OPTIMIZE/partition WHERE supports only `col = value` and "
            f"`col IN (...)` conjunctions, got: {clause!r}"
        )
    return out


def _mask_spans(sql: str) -> tuple[str, list[str]]:
    """Replace string literals (and the FROM-bearing scalar-function
    spans ``EXTRACT(... FROM ...)`` / ``TRIM/SUBSTRING/OVERLAY/
    POSITION(...)``) with ``\\x00N\\x00`` placeholders so the table-
    reference rewriter can never match text inside them. Doubled
    quotes (``'it''s'``) mask as two adjacent literals — content is
    restored verbatim by :func:`_unmask`. Function spans are matched
    with a balanced-paren scan, so nested calls
    (``EXTRACT(hour FROM coalesce(a, b))``) mask whole."""
    spans: list[str] = []

    def keep(m: re.Match) -> str:
        spans.append(m.group(0))
        return f"\x00{len(spans) - 1}\x00"

    sql = re.sub(r"'[^']*'", keep, sql)
    out, pos = [], 0
    for m in re.finditer(
        r"(?i)\b(EXTRACT|TRIM|SUBSTRING|OVERLAY|POSITION)\s*\(", sql
    ):
        if m.start() < pos:
            continue  # nested inside a span already taken
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            depth += {"(": 1, ")": -1}.get(sql[i], 0)
            i += 1
        if depth:  # unbalanced — leave the tail alone
            continue
        spans.append(sql[m.start():i])
        out.append(sql[pos:m.start()])
        out.append(f"\x00{len(spans) - 1}\x00")
        pos = i
    out.append(sql[pos:])
    return "".join(out), spans


def _unmask(sql: str, spans: list[str]) -> str:
    # to a FIXPOINT: function spans hold placeholders of the literals
    # masked before them (EXTRACT(... 'lit' ...)), so one pass can
    # leave nested markers behind. Terminates: span text never
    # contains \x00 markers other than earlier-pass placeholders.
    while True:
        new = re.sub(
            r"\x00(\d+)\x00", lambda m: spans[int(m.group(1))], sql
        )
        if new == sql:
            return new
        sql = new


# one table reference: identifier, optional time travel, optional
# alias (an alias never looks like a clause keyword)
_TT = (
    rf"(?:{_WS}VERSION{_WS}AS{_WS}OF{_WS}\d+"
    rf"|{_WS}TIMESTAMP{_WS}AS{_WS}OF{_WS}\x00\d+\x00)?"
)
_REF_ALIAS = (
    rf"(?:{_WS}(?:AS{_WS})?"
    r"(?!WHERE\b|GROUP\b|ORDER\b|LIMIT\b|ON\b|JOIN\b|HAVING\b|UNION\b|"
    r"INNER\b|LEFT\b|RIGHT\b|FULL\b|CROSS\b|VERSION\b|TIMESTAMP\b|"
    r"SELECT\b|WINDOW\b|QUALIFY\b)"
    r"[A-Za-z_]\w*)?"
)
_REF = rf"{_IDENT}{_TT}{_REF_ALIAS}"


def _register_lake_views(
    spark: SparkSession, sql: str, base_dir: str, _depth: int = 0
) -> str:
    """Rewrite every ``FROM/JOIN <lake-table> [VERSION AS OF n |
    TIMESTAMP AS OF 'ts']`` reference to a snapshot temp view and
    return the rewritten SQL — including COMMA-SEPARATED FROM lists
    (``FROM t, u WHERE ...``, the reference's own join dialect,
    /root/reference/README.md:68). Non-lake identifiers
    (already-registered views, subqueries) pass through untouched;
    string literals and EXTRACT/TRIM-style ``FROM``-bearing scalar
    spans are masked first so they are never rewritten."""
    counter = [0]
    sql, spans = _mask_spans(sql)

    def _ts_of(ph: str) -> float:
        import datetime as _dt

        lit = spans[int(ph.strip("\x00"))]
        return _dt.datetime.fromisoformat(lit.strip("'")).timestamp()

    # table_changes('t', v1[, v2]) — Databricks' CDF table function:
    # the change feed between two versions as a queryable relation
    tc = re.compile(
        rf"(?i)\b(FROM|JOIN){_WS}table_changes\s*\(\s*"
        rf"(\x00\d+\x00)\s*,\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)"
    )

    def sub_tc(m: re.Match) -> str:
        path = _path(spans[int(m.group(2).strip("\x00"))].strip("'"),
                     base_dir)
        lo = int(m.group(3))
        hi = int(m.group(4)) if m.group(4) else None
        counter[0] += 1
        view = f"__txc_{counter[0]}_{os.path.basename(path)}".replace(
            "-", "_"
        ).replace(".", "_")
        # Databricks semantics: the start version is INCLUSIVE;
        # tx_changes takes an exclusive lower bound
        txlog.tx_changes(
            spark, path, lo - 1, hi
        ).createOrReplaceTempView(view)
        return f"{m.group(1)} {view}"

    sql = tc.sub(sub_tc, sql)

    def _rewrite_ref(ref: str, depth: int = 0) -> str:
        """One ``ident [tt] [alias]`` item -> view [alias]."""
        m = re.match(
            rf"(?is)^\s*{_IDENT}"
            rf"(?:{_WS}VERSION{_WS}AS{_WS}OF{_WS}(\d+)"
            rf"|{_WS}TIMESTAMP{_WS}AS{_WS}OF{_WS}(\x00\d+\x00))?"
            rf"(.*)$",
            ref,
        )
        if not m:
            return ref
        ident, tail = m.group(1), m.group(4)
        path = _path(ident, base_dir)
        if os.path.isfile(_view_file(path)) and not m.group(2) \
                and not m.group(3):
            # lake VIEW: expand the stored definition inline (its own
            # lake references re-register fresh snapshots — late
            # binding). Nested views expand recursively, cycle-capped.
            if _depth + depth > 8:
                raise ValueError(
                    f"view expansion exceeded depth 8 at {ident!r} "
                    "(cyclic view definitions?)"
                )
            with open(_view_file(path)) as fh:
                body = fh.read()
            inner = _register_lake_views(
                spark, body, base_dir, _depth=_depth + depth + 1
            )
            alias = tail.strip()
            # a parenthesized subquery needs an alias; default to the
            # view's own name (standard resolution for `FROM v`)
            if not alias:
                alias = os.path.basename(path).replace("-", "_")
            return f"({inner}) {alias}"
        if not _is_lake_table(path):
            return ref
        kw: dict = {}
        if m.group(2):
            kw["version"] = int(m.group(2))
        elif m.group(3):
            kw["timestamp"] = _ts_of(m.group(3))
        counter[0] += 1
        view = f"__tx_{counter[0]}_{os.path.basename(path)}".replace(
            "-", "_"
        ).replace(".", "_")
        txlog.read_snapshot(spark, path, **kw).createOrReplaceTempView(
            view
        )
        if not tail.strip():
            # no explicit alias: alias the snapshot view back to the
            # ORIGINAL name so qualified references (`t.k` in a comma
            # join's WHERE) keep resolving
            alias = re.sub(
                r"\W", "_",
                os.path.basename(ident.strip("`").rstrip("/")),
            )
            if not re.match(r"^[A-Za-z_]", alias):
                alias = "_" + alias
            return f"{view} {alias}"
        return f"{view}{tail}"

    # FROM list (comma joins included): rewrite each item; JOIN takes
    # exactly one reference
    from_pat = re.compile(
        rf"(?i)\b(FROM){_WS}({_REF}(?:\s*,\s*{_REF})*)"
    )

    def sub_from(m: re.Match) -> str:
        items = [_rewrite_ref(x) for x in m.group(2).split(",")]
        return f"{m.group(1)} {', '.join(i.strip() for i in items)}"

    sql = from_pat.sub(sub_from, sql)
    join_pat = re.compile(rf"(?i)\b(JOIN){_WS}({_REF})")
    sql = join_pat.sub(
        lambda m: f"{m.group(1)} {_rewrite_ref(m.group(2)).strip()}",
        sql,
    )
    return _unmask(sql, spans)


def tx_sql(
    spark: SparkSession, sql: str, base_dir: str = "."
) -> DataFrame:
    """Execute one lake SQL statement (see module docstring for the
    dialect). Operation statements return a one-row frame
    ``(op, table, version, info)``; DESCRIBE and SELECT return their
    natural frames."""
    s = sql.strip().rstrip(";").strip()

    # -------- CREATE TABLE ... [SHALLOW] CLONE src --------
    m = re.match(
        rf"(?is)^CREATE{_WS}TABLE{_WS}{_IDENT}{_WS}(?:SHALLOW{_WS})?"
        rf"CLONE{_WS}{_IDENT}"
        rf"(?:{_WS}VERSION{_WS}AS{_WS}OF{_WS}(\d+))?$",
        s,
    )
    if m:
        dst = _path(m.group(1), base_dir)
        src = _path(m.group(2), base_dir)
        v = txlog.tx_clone(
            src, dst,
            version=int(m.group(3)) if m.group(3) else None,
        )
        return _result(spark, "clone", dst, v, f"from {src}")

    # -------- CREATE TABLE ... LIKE src --------
    m = re.match(
        rf"(?is)^CREATE{_WS}TABLE{_WS}(?:IF{_WS}NOT{_WS}EXISTS{_WS})?"
        rf"{_IDENT}{_WS}LIKE{_WS}{_IDENT}$",
        s,
    )
    if m:
        # empty table carrying the source's FULL declared metadata —
        # schema, partitioning, clustering, defaults, generated
        # columns, identity, constraints, row tracking — but none of
        # its data or history (CLONE is the data-carrying sibling).
        # Built from the metadata getters directly, NOT by replaying
        # SHOW CREATE TABLE, whose text renders partitioning and
        # generated columns as comments.
        dst = _path(m.group(1), base_dir)
        src = _path(m.group(2), base_dir)
        if not _is_lake_table(src):
            raise FileNotFoundError(f"not a lake table: {src}")
        if _is_lake_table(dst):
            if re.search(rf"(?i)IF{_WS}NOT{_WS}EXISTS", s):
                return _result(spark, "create_table_like", dst,
                               txlog.log_versions(dst)[-1], "exists")
            raise ValueError(f"table already exists: {dst}")
        schema = txlog.table_schema(src)
        pb = txlog.table_partition_by(src)
        v = txlog.tx_append(
            spark.createDataFrame([], schema), dst,
            partition_by=pb or None,
        )
        cb = txlog.table_cluster_by(src)
        if cb:
            v = txlog.tx_set_cluster_by(dst, cb)
        for c, expr in sorted(txlog.table_column_defaults(src).items()):
            v = txlog.tx_set_default(dst, c, expr)
        for c, expr in sorted(
            txlog.table_generated_columns(src).items()
        ):
            v = txlog.tx_set_generated(spark, dst, c, expr)
        for c, spec in sorted(txlog.table_identity(src).items()):
            v = txlog.tx_set_identity(
                spark, dst, c, start=spec["start"], step=spec["step"],
                always=spec["always"],
            )
        for n, pred in sorted(txlog.table_constraints(src).items()):
            v = txlog.tx_set_constraint(spark, dst, n, pred)
        if txlog.table_row_tracking(src):
            v = txlog.tx_enable_row_tracking(dst)
        return _result(spark, "create_table_like", dst, v, f"like {src}")

    # -------- CREATE [OR REPLACE] VIEW / DROP VIEW / DROP TABLE -----
    m = re.match(
        rf"(?is)^CREATE{_WS}(OR{_WS}REPLACE{_WS})?VIEW{_WS}{_IDENT}"
        rf"{_WS}AS{_WS}(SELECT\b.*|WITH\b.*)$",
        s,
    )
    if m:
        path = _path(m.group(2), base_dir)
        vf = _view_file(path)
        if os.path.exists(vf) and not m.group(1):
            raise ValueError(f"view already exists: {path}")
        if _is_lake_table(path):
            raise ValueError(f"a TABLE already exists at {path}")
        body = m.group(3).strip()
        # validate now (parse + resolution), store the RAW text —
        # late binding re-expands per query
        spark.sql(_register_lake_views(spark, body, base_dir)).schema
        with open(vf, "w") as fh:
            fh.write(body)
        return _result(spark, "create_view", path, None, body[:80])

    m = re.match(
        rf"(?is)^DROP{_WS}VIEW{_WS}(IF{_WS}EXISTS{_WS})?{_IDENT}$", s
    )
    if m:
        path = _path(m.group(2), base_dir)
        vf = _view_file(path)
        if not os.path.exists(vf):
            if m.group(1):
                return _result(spark, "drop_view", path, None, "absent")
            raise FileNotFoundError(f"no view at {path}")
        os.remove(vf)
        return _result(spark, "drop_view", path, None, "dropped")

    m = re.match(
        rf"(?is)^DROP{_WS}TABLE{_WS}(IF{_WS}EXISTS{_WS})?{_IDENT}$", s
    )
    if m:
        path = _path(m.group(2), base_dir)
        if not _is_lake_table(path):
            if m.group(1):
                return _result(spark, "drop_table", path, None, "absent")
            raise FileNotFoundError(f"not a lake table: {path}")
        n = txlog.tx_drop_table(path)
        return _result(spark, "drop_table", path, None,
                       f"{n} live files dropped")

    # -------- CREATE [OR REPLACE] TABLE ... AS SELECT (CTAS) --------
    m = re.match(
        rf"(?is)^CREATE{_WS}(OR{_WS}REPLACE{_WS})?TABLE{_WS}{_IDENT}"
        rf"(?:{_WS}PARTITIONED{_WS}BY\s*\(([^)]*)\))?"
        rf"(?:{_WS}CLUSTER{_WS}BY\s*\(([^)]*)\))?"
        rf"{_WS}AS{_WS}(SELECT\b.*|VALUES\b.*)$",
        s,
    )
    if m:
        replace = bool(m.group(1))
        path = _path(m.group(2), base_dir)
        pb = _split_cols(m.group(3)) if m.group(3) else None
        cb = _split_cols(m.group(4)) if m.group(4) else None
        body = m.group(5).strip()
        df = spark.sql(_register_lake_views(spark, body, base_dir))
        if _is_lake_table(path):
            if not replace:
                raise ValueError(f"table already exists: {path}")
            v, _ = txlog.tx_overwrite(
                spark, path, df, overwrite_schema=True
            )
            if pb:
                # OR REPLACE re-declares the layout: one additional
                # value-pure re-lay commit (partition evolution) —
                # time travel still serves the pre-replace versions
                v, _ = txlog.tx_repartition_table(spark, path, pb)
            if cb is not None:
                v = txlog.tx_set_cluster_by(path, cb)
            return _result(spark, "create_or_replace", path, v,
                           df.schema.simpleString())
        v = txlog.tx_append(df, path, partition_by=pb)
        if cb is not None:
            v = txlog.tx_set_cluster_by(path, cb)
        return _result(spark, "create_table_as", path, v,
                       df.schema.simpleString())

    # ---------------- CREATE TABLE ----------------
    m = re.match(
        rf"(?is)^CREATE{_WS}(OR{_WS}REPLACE{_WS})?TABLE{_WS}"
        rf"(?:IF{_WS}NOT{_WS}EXISTS{_WS})?"
        rf"{_IDENT}\s*\((.*?)\)"
        rf"(?:{_WS}PARTITIONED{_WS}BY\s*\(([^)]*)\))?"
        rf"(?:{_WS}CLUSTER{_WS}BY\s*\(([^)]*)\))?"
        rf"(?:{_WS}TBLPROPERTIES\s*\(([^)]*)\))?$",
        s,
    )
    if m:
        replace = bool(m.group(1))
        path = _path(m.group(2), base_dir)
        if_not_exists = re.search(rf"(?i)IF{_WS}NOT{_WS}EXISTS", s) is not None
        pb = _split_cols(m.group(4)) if m.group(4) else None
        cb = _split_cols(m.group(5)) if m.group(5) else None
        # inline TBLPROPERTIES at CREATE: same support surface as
        # ALTER TABLE SET TBLPROPERTIES (row tracking), applied as
        # part of the creating commit sequence
        row_tracking = False
        if m.group(6):
            props = dict(
                (k.strip().strip("'\""), pv.strip().strip("'\""))
                for k, _, pv in (
                    p.partition("=") for p in m.group(6).split(",")
                )
            )
            row_tracking = (
                props.pop("delta.enableRowTracking", "").lower() == "true"
            )
            if props:
                raise ValueError(
                    f"unsupported TBLPROPERTIES {sorted(props)} — "
                    "supported: 'delta.enableRowTracking'='true'"
                )
        # inline column specs (DEFAULT / GENERATED / IDENTITY / NOT
        # NULL / CHECK) parse into the creating commit sequence; a
        # bare column list passes through verbatim (nested MAP<k, v>
        # commas and all)
        specs = None
        cols_src = m.group(3)
        if _COL_SPEC_RE.search(cols_src):
            cols_src, specs = _parse_create_columns(cols_src)
        if _is_lake_table(path):
            if replace:
                # Delta's CREATE OR REPLACE TABLE (definition form):
                # one commit swaps in the new (empty) definition;
                # history/time travel keep serving the pre-replace
                # versions. As with the CTAS OR REPLACE path, declared
                # laws (constraints/defaults/identity) survive the
                # replace; the inline specs layer on top.
                empty = spark.createDataFrame([], cols_src)
                v, _ = txlog.tx_overwrite(
                    spark, path, empty, overwrite_schema=True
                )
                if pb:
                    v, _ = txlog.tx_repartition_table(spark, path, pb)
                if cb is not None:
                    v = txlog.tx_set_cluster_by(path, cb)
                if specs:
                    v = _apply_column_specs(spark, path, specs)
                if row_tracking:
                    v = txlog.tx_enable_row_tracking(path)
                return _result(spark, "create_or_replace", path, v,
                               empty.schema.simpleString())
            if if_not_exists:
                return _result(spark, "create_table", path,
                               txlog.log_versions(path)[-1], "exists")
            raise ValueError(f"table already exists: {path}")
        empty = spark.createDataFrame([], cols_src)
        # PARTITIONED BY on an empty create is the DECLARING append
        # (zero files staged, the declaration rides the commit) —
        # every later INSERT inherits it and stages value-pure
        v = txlog.tx_append(empty, path, partition_by=pb)
        if cb is not None:
            v = txlog.tx_set_cluster_by(path, cb)
        if specs:
            v = _apply_column_specs(spark, path, specs)
        if row_tracking:
            v = txlog.tx_enable_row_tracking(path)
        return _result(spark, "create_table", path, v,
                       empty.schema.simpleString())

    # ------- INSERT ... REPLACE WHERE / INSERT OVERWRITE PARTITION ----
    m = re.match(
        rf"(?is)^INSERT{_WS}INTO{_WS}{_IDENT}{_WS}REPLACE{_WS}WHERE{_WS}"
        rf"(.*?){_WS}(VALUES\b.*|SELECT\b.*)$",
        s,
    ) or re.match(
        rf"(?is)^INSERT{_WS}OVERWRITE{_WS}(?:TABLE{_WS})?{_IDENT}{_WS}"
        rf"PARTITION\s*\((.*?)\){_WS}(VALUES\b.*|SELECT\b.*)$",
        s,
    )
    if m:
        path = _path(m.group(1), base_dir)
        overwrite_part = re.match(r"(?is)^INSERT\s+OVERWRITE\b", s)
        if overwrite_part:
            # PARTITION (p = 1, q = 'x') -> predicate + auto-filled
            # constant columns on the inserted rows (Hive's static
            # partition-overwrite form)
            spec = _parse_partition_where(
                m.group(2).replace(",", " AND ")
            )
            pred = " AND ".join(
                f"{c} = {v!r}" if isinstance(v, str) else f"{c} = {v}"
                for c, v in spec.items()
            )
        else:
            spec, pred = None, m.group(2)
        body = m.group(3).strip()
        if body.upper().startswith("VALUES"):
            schema = txlog.table_schema(path)
            if schema is None:
                raise ValueError(
                    f"REPLACE WHERE needs an existing table under {path}"
                )
            cols = [
                c for c in schema.fieldNames()
                if not (spec and c in spec)
            ]
            df = spark.sql(
                f"SELECT * FROM ({body}) AS _ins({', '.join(cols)})"
            )
        else:
            df = spark.sql(_register_lake_views(spark, body, base_dir))
        if spec:
            from pyspark.sql import functions as F

            for c, v in spec.items():
                df = df.withColumn(c, F.lit(v))
        schema = txlog.table_schema(path)
        if schema is not None:
            from pyspark.sql import functions as F

            want = {f.name: f.dataType for f in schema.fields}
            df = df.select(*[
                F.col(c).cast(want[c]).alias(c) if c in want else F.col(c)
                for c in df.columns
            ])
        v, n = txlog.tx_replace_where(spark, path, df, pred)
        return _result(spark, "replace_where", path, v,
                       f"{n} files replaced WHERE {pred}")

    # -------- INSERT OVERWRITE (whole table) --------
    m = re.match(
        rf"(?is)^INSERT{_WS}OVERWRITE{_WS}(?:TABLE{_WS})?{_IDENT}"
        rf"{_WS}(VALUES\b.*|SELECT\b.*)$",
        s,
    )
    if m:
        path = _path(m.group(1), base_dir)
        body = m.group(2).strip()
        if body.upper().startswith("VALUES"):
            schema = txlog.table_schema(path)
            if schema is None:
                raise ValueError(
                    f"INSERT OVERWRITE needs an existing table at {path}"
                )
            cols = schema.fieldNames()
            df = spark.sql(
                f"SELECT * FROM ({body}) AS _ins({', '.join(cols)})"
            )
        else:
            df = spark.sql(_register_lake_views(spark, body, base_dir))
        schema = txlog.table_schema(path)
        if schema is not None:
            from pyspark.sql import functions as F

            want = {f.name: f.dataType for f in schema.fields}
            df = df.select(*[
                F.col(c).cast(want[c]).alias(c) if c in want else F.col(c)
                for c in df.columns
            ])
        v, n = txlog.tx_overwrite(spark, path, df)
        return _result(spark, "overwrite", path, v,
                       f"{n} files replaced")

    # ---------------- INSERT INTO ----------------
    m = re.match(
        rf"(?is)^INSERT{_WS}INTO{_WS}{_IDENT}"
        rf"(?:\s*\(([^)]*)\))?{_WS}(VALUES\b.*|SELECT\b.*)$",
        s,
    )
    if m:
        path = _path(m.group(1), base_dir)
        cols = _split_cols(m.group(2)) if m.group(2) else None
        body = m.group(3).strip()
        if body.upper().startswith("VALUES"):
            if cols is None:
                schema = txlog.table_schema(path)
                if schema is None:
                    raise ValueError(
                        f"INSERT without a column list needs an existing "
                        f"table schema under {path}"
                    )
                cols = schema.fieldNames()
            df = spark.sql(
                f"SELECT * FROM ({body}) AS _ins({', '.join(cols)})"
            )
        else:
            df = spark.sql(_register_lake_views(spark, body, base_dir))
            if cols:
                df = df.toDF(*cols)
        schema = txlog.table_schema(path)
        if schema is not None:
            # align VALUES literal types (int -> declared bigint etc.)
            from pyspark.sql import functions as F

            want = {f.name: f.dataType for f in schema.fields}
            df = df.select(*[
                F.col(c).cast(want[c]).alias(c) if c in want else F.col(c)
                for c in df.columns
            ])
        v = txlog.tx_append(df, path)
        return _result(spark, "insert", path, v, f"{len(df.columns)} cols")

    # ---------------- MERGE INTO ----------------
    m = re.match(
        rf"(?is)^MERGE{_WS}INTO{_WS}{_IDENT}"
        rf"(?:{_WS}(?:AS{_WS})?(?!USING\b)(\w+))?{_WS}USING{_WS}"
        rf"(?:\((.*)\)|{_IDENT})(?:{_WS}(?:AS{_WS})?(?!ON\b)(\w+))?{_WS}"
        rf"ON{_WS}(.*?){_WS}"
        rf"(WHEN{_WS}(?:NOT{_WS})?MATCHED\b.*)$",
        s,
    )
    if m:
        path = _path(m.group(1), base_dir)
        tgt_alias = m.group(2)
        if m.group(3):
            src = spark.sql(_register_lake_views(spark, m.group(3), base_dir))
        else:
            src_path = _path(m.group(4), base_dir)
            if _is_lake_table(src_path):
                src = txlog.read_snapshot(spark, src_path)
            else:
                src = spark.table(m.group(4).strip("`"))
        src_alias = m.group(5)

        def _norm(expr: str) -> str:
            # user aliases (and the bare table names) normalize to
            # tx_merge's t./s. expression model
            for a, canon in (
                (tgt_alias, "t"),
                (os.path.basename(path.rstrip("/")), "t"),
                (src_alias, "s"),
                (m.group(4).strip("`") if m.group(4) else None, "s"),
            ):
                if a and a not in ("t", "s"):
                    expr = re.sub(
                        rf"\b{re.escape(a)}\s*\.", f"{canon}.", expr
                    )
            return expr.strip()

        # ON clause: same-named equality conjunctions (`t.k = s.k AND
        # ...`) or a bare key list `(k1, k2)` — the merge key model
        on = _norm(m.group(6).strip())
        km = re.fullmatch(r"\(([^)]*)\)", on)
        if km:
            keys = _split_cols(km.group(1))
        else:
            keys = []
            for clause in re.split(r"(?i)\s+AND\s+", on):
                cm = re.fullmatch(
                    r"(?:\w+\.)?(\w+)\s*=\s*(?:\w+\.)?(\w+)", clause.strip()
                )
                if not cm or cm.group(1) != cm.group(2):
                    raise ValueError(
                        "MERGE ON supports same-named equality "
                        f"conjunctions or a (key, ...) list, got: {on!r}"
                    )
                keys.append(cm.group(1))
        # WHEN clause list (Delta's full model): string literals mask
        # FIRST so a 'when matched' inside a VALUES/condition literal
        # can never split a clause, then the tail splits at clause
        # heads; every parsed expression unmasks on the way out
        tail, tspans = _mask_spans(m.group(7))
        chunks = [
            c.strip() for c in re.split(
                r"(?i)(?=\bWHEN\s+(?:NOT\s+)?MATCHED\b)", tail
            ) if c.strip()
        ]
        matched, not_matched, nmbs = [], [], []

        def _xp(expr: str) -> str:
            return _unmask(_norm(expr), tspans)

        def _parse_upd_or_del(act, cond, out):
            if re.fullmatch(r"(?is)DELETE", act):
                out.append({"cond": cond, "action": "delete"})
                return
            am = re.match(rf"(?is)^UPDATE{_WS}SET{_WS}(.*)$", act)
            if not am:
                raise ValueError(f"bad MERGE MATCHED action: {act!r}")
            body = am.group(1).strip()
            if body == "*":
                out.append({"cond": cond, "action": "update", "set": None})
                return
            st = {}
            for part in _split_top(body):
                col, _, expr = part.partition("=")
                if not expr:
                    raise ValueError(f"bad SET clause: {part!r}")
                col = col.strip().strip("`")
                col = re.sub(r"^t\.", "", _norm(col))
                st[col] = _xp(expr)
            out.append({"cond": cond, "action": "update", "set": st})

        for ch in chunks:
            cm = re.match(
                rf"(?is)^WHEN{_WS}(NOT{_WS})?MATCHED"
                rf"(?:{_WS}BY{_WS}(SOURCE|TARGET))?"
                rf"(?:{_WS}AND{_WS}(.*?))?{_WS}THEN{_WS}(.*)$",
                ch,
            )
            if not cm:
                raise ValueError(f"bad MERGE WHEN clause: {ch!r}")
            is_not = bool(cm.group(1))
            by_source = (cm.group(2) or "").upper() == "SOURCE"
            cond = _xp(cm.group(3)) if cm.group(3) else None
            act = cm.group(4).strip()
            if is_not and by_source:
                # Delta 2.3: target rows with no source match take
                # UPDATE/DELETE actions (the sync idiom)
                _parse_upd_or_del(act, cond, nmbs)
            elif is_not:
                am = re.match(
                    rf"(?is)^INSERT{_WS}?(?:\*|\(([^)]*)\){_WS}"
                    rf"VALUES{_WS}?\((.*)\))$",
                    act,
                )
                if not am:
                    raise ValueError(
                        f"bad MERGE NOT MATCHED action: {act!r}"
                    )
                if am.group(1) is None:
                    not_matched.append({"cond": cond, "values": None})
                else:
                    cols = _split_cols(am.group(1))
                    exprs = _split_top(am.group(2))
                    if len(cols) != len(exprs):
                        raise ValueError(
                            f"INSERT column/VALUES arity mismatch: {act!r}"
                        )
                    not_matched.append({
                        "cond": cond,
                        "values": {
                            c: _xp(e) for c, e in zip(cols, exprs)
                        },
                    })
            else:
                _parse_upd_or_del(act, cond, matched)
        v, n = txlog.tx_merge(
            spark, path, src, keys,
            matched=matched, not_matched=not_matched,
            not_matched_by_source=nmbs,
        )
        return _result(spark, "merge", path, v, f"{n} files rewritten")

    # ---------------- UPDATE / DELETE ----------------
    m = re.match(
        rf"(?is)^UPDATE{_WS}{_IDENT}{_WS}SET{_WS}(.*?)"
        rf"(?:{_WS}WHERE{_WS}(.*))?$",
        s,
    )
    if m:
        path = _path(m.group(1), base_dir)
        assignments: dict[str, str] = {}
        for part in _split_top(m.group(2)):
            col, _, expr = part.partition("=")
            if not expr:
                raise ValueError(f"bad SET clause: {part!r}")
            assignments[col.strip().strip("`")] = expr.strip()
        # WHERE-less UPDATE = every row (standard SQL)
        v, n = txlog.tx_update_where(
            spark, path, m.group(3) or "true", assignments
        )
        return _result(spark, "update", path, v, f"{n} files rewritten")

    m = re.match(
        rf"(?is)^DELETE{_WS}FROM{_WS}{_IDENT}(?:{_WS}WHERE{_WS}(.*))?$", s
    )
    if m:
        path = _path(m.group(1), base_dir)
        if m.group(2) is None:
            # WHERE-less DELETE = drop every live row; route to the
            # metadata-only truncate (Delta's predicate-less DELETE is
            # metadata-only too) — history/time travel intact, the
            # change feed streams whole-file drops
            v, n = txlog.tx_truncate(path)
            return _result(spark, "delete", path, v,
                           f"{n} files dropped (all rows)")
        v, n = txlog.tx_delete_where(spark, path, m.group(2))
        return _result(spark, "delete", path, v, f"{n} files rewritten")

    # ---------------- ALTER TABLE ----------------
    m = re.match(rf"(?is)^ALTER{_WS}TABLE{_WS}{_IDENT}{_WS}(.*)$", s)
    if m:
        path = _path(m.group(1), base_dir)
        rest = m.group(2).strip()

        m2 = re.match(rf"(?is)^RENAME{_WS}TO{_WS}{_IDENT}$", rest)
        if m2:
            new = _path(m2.group(1), base_dir)
            txlog.tx_rename_table(path, new)
            return _result(spark, "rename_table", new, None,
                           f"{path} -> {new}")

        m2 = re.match(
            rf"(?is)^RENAME{_WS}COLUMN{_WS}{_IDENT}{_WS}TO{_WS}{_IDENT}$",
            rest,
        )
        if m2:
            v = txlog.tx_rename_column(
                spark, path, m2.group(1).strip("`"), m2.group(2).strip("`")
            )
            return _result(spark, "rename_column", path, v,
                           f"{m2.group(1)} -> {m2.group(2)}")

        m2 = re.match(
            rf"(?is)^ADD{_WS}COLUMN{_WS}{_IDENT}{_WS}(\w+(?:\([^)]*\))?)$",
            rest,
        )
        if m2:
            v = txlog.tx_add_column(
                path, m2.group(1).strip("`"), m2.group(2)
            )
            return _result(spark, "add_column", path, v,
                           f"{m2.group(1)} {m2.group(2)}")

        m2 = re.match(rf"(?is)^ADD{_WS}COLUMN{_WS}(.+)$", rest)
        if m2 and _COL_SPEC_RE.search(m2.group(1)):
            # inline specs on ADD COLUMN (r13, same parser as CREATE):
            # DEFAULT fills future writes (existing rows read NULL —
            # Delta's add-column semantics); NOT NULL routes through
            # tx_set_constraint, which correctly REJECTS it when
            # existing rows violate (any non-empty table: the new
            # column is NULL there). GENERATED likewise validates
            # against the current snapshot.
            ddl, specs = _parse_create_columns(m2.group(1))
            col, _, typ = ddl.partition(" ")
            v = txlog.tx_add_column(path, col, typ)
            v = _apply_column_specs(spark, path, specs)
            return _result(spark, "add_column", path, v, ddl)

        m2 = re.match(
            rf"(?is)^ADD{_WS}COLUMNS{_WS}?\(([^)]*)\)$", rest
        )
        if m2:
            # ADD COLUMNS (a T, b T, ...): each addition is one
            # metadata-only commit, applied in order
            v = None
            added = []
            for part in _split_top(m2.group(1)):
                cm = re.fullmatch(
                    rf"(?is){_IDENT}{_WS}(\w+(?:\([^)]*\))?)",
                    part.strip(),
                )
                if not cm:
                    raise ValueError(f"bad ADD COLUMNS entry: {part!r}")
                col, typ = cm.group(1).strip("`"), cm.group(2)
                v = txlog.tx_add_column(path, col, typ)
                added.append(f"{col} {typ}")
            if v is None:
                raise ValueError("ADD COLUMNS needs at least one column")
            return _result(spark, "add_columns", path, v,
                           ", ".join(added))

        m2 = re.match(rf"(?is)^DROP{_WS}COLUMN{_WS}{_IDENT}$", rest)
        if m2:
            v = txlog.tx_drop_column(spark, path, m2.group(1).strip("`"))
            return _result(spark, "drop_column", path, v, m2.group(1))

        m2 = re.match(
            rf"(?is)^ADD{_WS}CONSTRAINT{_WS}{_IDENT}{_WS}CHECK\s*"
            rf"\((.*)\)$",
            rest,
        )
        if m2:
            v = txlog.tx_set_constraint(
                spark, path, m2.group(1).strip("`"), m2.group(2)
            )
            return _result(spark, "add_constraint", path, v, m2.group(2))

        m2 = re.match(rf"(?is)^DROP{_WS}CONSTRAINT{_WS}{_IDENT}$", rest)
        if m2:
            v = txlog.tx_drop_constraint(path, m2.group(1).strip("`"))
            return _result(spark, "drop_constraint", path, v, m2.group(1))

        m2 = re.match(rf"(?is)^CLUSTER{_WS}BY{_WS}NONE$", rest)
        if m2:
            v = txlog.tx_set_cluster_by(path, [])
            return _result(spark, "cluster_by", path, v, "NONE")
        m2 = re.match(rf"(?is)^CLUSTER{_WS}BY\s*\(([^)]*)\)$", rest)
        if m2:
            cols = _split_cols(m2.group(1))
            v = txlog.tx_set_cluster_by(path, cols)
            return _result(spark, "cluster_by", path, v, ", ".join(cols))

        m2 = re.match(
            rf"(?is)^SET{_WS}TBLPROPERTIES\s*\((.*)\)$", rest
        )
        if m2:
            props = dict(
                (k.strip().strip("'\""), v.strip().strip("'\""))
                for k, _, v in (
                    p.partition("=") for p in m2.group(1).split(",")
                )
            )
            rt = props.get("delta.enableRowTracking", "").lower()
            if rt == "true":
                v = txlog.tx_enable_row_tracking(path)
                return _result(spark, "set_tblproperties", path, v,
                               "row tracking enabled")
            raise ValueError(
                f"unsupported TBLPROPERTIES {sorted(props)} — supported: "
                "'delta.enableRowTracking'='true'"
            )

        m2 = re.match(
            rf"(?is)^ALTER{_WS}COLUMN{_WS}{_IDENT}{_WS}(.*)$", rest
        )
        if m2:
            col, action = m2.group(1).strip("`"), m2.group(2).strip()
            m3 = re.match(
                rf"(?is)^SET{_WS}GENERATED{_WS}"
                rf"(ALWAYS|BY{_WS}DEFAULT){_WS}AS{_WS}IDENTITY"
                rf"(?:\s*\(\s*START{_WS}WITH{_WS}(-?\d+)"
                rf"(?:{_WS}INCREMENT{_WS}BY{_WS}(-?\d+))?\s*\))?$",
                action,
            )
            if m3:
                always = m3.group(1).upper() == "ALWAYS"
                start = int(m3.group(2)) if m3.group(2) else 1
                step = int(m3.group(3)) if m3.group(3) else 1
                v = txlog.tx_set_identity(
                    spark, path, col, start=start, step=step, always=always
                )
                return _result(
                    spark, "set_identity", path, v,
                    f"{col} START {start} STEP {step} "
                    f"{'ALWAYS' if always else 'BY DEFAULT'}",
                )
            if re.match(rf"(?is)^SYNC{_WS}IDENTITY$", action):
                v = txlog.tx_identity_sync(spark, path, col)
                return _result(spark, "sync_identity", path, v, col)
            if re.match(rf"(?is)^DROP{_WS}IDENTITY$", action):
                v = txlog.tx_drop_identity(path, col)
                return _result(spark, "drop_identity", path, v, col)
            m3 = re.match(
                rf"(?is)^TYPE{_WS}(\w+(?:\([^)]*\))?)$", action
            )
            if m3:
                v = txlog.tx_alter_column_type(path, col, m3.group(1))
                return _result(spark, "alter_column_type", path, v,
                               f"{col} -> {m3.group(1)}")
            m3 = re.match(rf"(?is)^SET{_WS}DEFAULT{_WS}(.*)$", action)
            if m3:
                v = txlog.tx_set_default(path, col, m3.group(1))
                return _result(spark, "set_default", path, v,
                               f"{col} = {m3.group(1)}")
            if re.match(rf"(?is)^DROP{_WS}DEFAULT$", action):
                v = txlog.tx_drop_default(path, col)
                return _result(spark, "drop_default", path, v, col)
            raise ValueError(f"unsupported ALTER COLUMN action: {action!r}")

        raise ValueError(f"unsupported ALTER TABLE statement: {rest!r}")

    # ---------------- CREATE BLOOMFILTER INDEX ----------------
    m = re.match(
        rf"(?is)^CREATE{_WS}BLOOMFILTER{_WS}INDEX{_WS}ON{_WS}"
        rf"(?:TABLE{_WS})?{_IDENT}{_WS}FOR{_WS}COLUMNS{_WS}?"
        rf"\s*\(([^)]*)\)$",
        s,
    )
    if m:
        path = _path(m.group(1), base_dir)
        cols = _split_cols(m.group(2))
        v = txlog.tx_bloom(spark, path, cols)
        return _result(spark, "create_bloom_index", path, v,
                       ", ".join(cols))

    # ---------------- COPY INTO ----------------
    m = re.match(
        rf"(?is)^COPY{_WS}INTO{_WS}{_IDENT}{_WS}FROM{_WS}'([^']+)'"
        rf"{_WS}FILEFORMAT{_WS}?={_WS}?(\w+)"
        rf"(?:{_WS}PATTERN{_WS}?={_WS}?'([^']+)')?"
        rf"(?:{_WS}FORCE{_WS}?={_WS}?(true|false))?$",
        s,
    )
    if m:
        path = _path(m.group(1), base_dir)
        v, n = txlog.tx_copy_into(
            spark, path, m.group(2),
            file_format=m.group(3).lower(),
            pattern=m.group(4),
            force=(m.group(5) or "").lower() == "true",
        )
        return _result(spark, "copy_into", path,
                       v if n else None, f"{n} files loaded")

    # ---------------- CONVERT TO LAKE ----------------
    # Delta's CONVERT TO DELTA for this engine's layout: an existing
    # plain-parquet directory becomes a transactional table WITHOUT
    # copying bytes (hardlinked files + one founding commit; COPY pays
    # the byte copy to sever inode sharing, MERGE SCHEMA accepts
    # additive footer drift, PARTITIONED BY derives partitionValues
    # from footer stats so the converted table prunes from day one)
    m = re.match(
        rf"(?is)^CONVERT{_WS}TO{_WS}LAKE{_WS}'([^']+)'{_WS}AS{_WS}"
        rf"{_IDENT}"
        rf"(?:{_WS}PARTITIONED{_WS}BY\s*\(([^)]*)\))?"
        rf"((?:{_WS}COPY)?)((?:{_WS}MERGE{_WS}SCHEMA)?)$",
        s,
    )
    if m:
        path = _path(m.group(2), base_dir)
        v = txlog.tx_convert_parquet_dir(
            spark, m.group(1), path,
            partition_by=_split_cols(m.group(3)) if m.group(3) else None,
            copy=bool(m.group(4).strip()),
            merge_schema=bool(m.group(5).strip()),
        )
        n = len(txlog.snapshot_files(path)[1])
        return _result(spark, "convert", path, v,
                       f"{n} files from {m.group(1)}")

    # ---------------- ANALYZE ----------------
    m = re.match(
        rf"(?is)^ANALYZE{_WS}TABLE{_WS}{_IDENT}{_WS}COMPUTE{_WS}"
        rf"STATISTICS(?:{_WS}FOR{_WS}(?:ALL{_WS}COLUMNS|"
        rf"COLUMNS{_WS}(.+)))?$",
        s,
    )
    if m:
        path = _path(m.group(1), base_dir)
        cols = _split_cols(m.group(2)) if m.group(2) else None
        v, n = txlog.tx_analyze(path, cols)
        return _result(spark, "analyze", path, v if n else None,
                       f"{n} files backfilled")

    # ---------------- REORG ... APPLY (PURGE) ----------------
    m = re.match(
        rf"(?is)^REORG{_WS}TABLE{_WS}{_IDENT}{_WS}"
        rf"APPLY\s*\(\s*PURGE\s*\)$",
        s,
    )
    if m:
        path = _path(m.group(1), base_dir)
        v, n = txlog.tx_reorg_purge(spark, path)
        return _result(spark, "reorg_purge", path, v,
                       f"{n} vectored files purged")

    # ---------------- OPTIMIZE ----------------
    m = re.match(
        rf"(?is)^OPTIMIZE{_WS}{_IDENT}"
        rf"(?:{_WS}WHERE{_WS}(.*?))?"
        rf"(?:{_WS}ZORDER{_WS}BY\s*\(([^)]*)\))?"
        rf"({_WS}FULL)?"
        rf"(?:{_WS}TARGET{_WS}SIZE{_WS}(\d+)([KMG]?B?))?$",
        s,
    )
    if m:
        path = _path(m.group(1), base_dir)
        pf = _parse_partition_where(m.group(2)) if m.group(2) else None
        zorder = _split_cols(m.group(3)) if m.group(3) else None
        full = bool(m.group(4))
        unit = {"": 1, "B": 1, "K": 1 << 10, "KB": 1 << 10,
                "M": 1 << 20, "MB": 1 << 20, "G": 1 << 30, "GB": 1 << 30}
        target = (
            int(m.group(5)) * unit[(m.group(6) or "").upper()]
            if m.group(5) else 128 << 20
        )
        if zorder or full:
            # explicit ZORDER BY (or FULL) = the full rewrite of the
            # selected scope, tx_compact's OPTIMIZE-ZORDER. The file
            # count DERIVES from selected bytes / target size (same
            # sizing rule as tx_optimize) — a fixed count would write
            # multi-TB unsplittable files on a big table, defeating
            # the skipping the z-order exists to serve. Override with
            # `... TARGET SIZE n[MB|GB]`.
            v, n = txlog.tx_compact(
                spark, path, num_files=None, zorder_by=zorder,
                partition_filter=pf, target_file_bytes=target,
            )
            return _result(spark, "optimize_zorder", path, v,
                           f"{n} files rewritten")
        v, n = txlog.tx_optimize(
            spark, path, partition_filter=pf, target_file_bytes=target,
        )
        return _result(spark, "optimize", path, v, f"{n} files packed")

    # ---------------- VACUUM ----------------
    m = re.match(
        rf"(?is)^VACUUM{_WS}{_IDENT}"
        rf"(?:{_WS}RETAIN{_WS}([\d.]+){_WS}HOURS)?"
        rf"({_WS}DRY{_WS}RUN)?$",
        s,
    )
    if m:
        path = _path(m.group(1), base_dir)
        hours = float(m.group(2)) if m.group(2) else 24.0
        dry = bool(m.group(3))
        removed = txlog.tx_vacuum(
            path, retention_seconds=hours * 3600.0, dry_run=dry
        )
        return _result(
            spark, "vacuum", path, None,
            f"{len(removed)} files "
            + ("would be removed" if dry else "removed"),
        )

    # ---------------- RESTORE ----------------
    m = re.match(
        rf"(?is)^RESTORE{_WS}(?:TABLE{_WS})?{_IDENT}{_WS}(?:TO{_WS})?"
        rf"(?:VERSION{_WS}AS{_WS}OF{_WS}(\d+)"
        rf"|TIMESTAMP{_WS}AS{_WS}OF{_WS}'([^']+)')$",
        s,
    )
    if m:
        path = _path(m.group(1), base_dir)
        if m.group(2):
            v = txlog.tx_restore(path, int(m.group(2)))
        else:
            import datetime as _dt

            v = txlog.tx_restore(
                path,
                timestamp=_dt.datetime.fromisoformat(
                    m.group(3)
                ).timestamp(),
            )
        return _result(spark, "restore", path, v, s.split(None, 1)[1])

    # ---------------- TRUNCATE / SHOW ----------------
    m = re.match(rf"(?is)^TRUNCATE{_WS}TABLE{_WS}{_IDENT}$", s)
    if m:
        path = _path(m.group(1), base_dir)
        v, n = txlog.tx_truncate(path)
        return _result(spark, "truncate", path, v, f"{n} files dropped")

    m = re.match(rf"(?is)^SHOW{_WS}CREATE{_WS}TABLE{_WS}{_IDENT}$", s)
    if m:
        ddl = txlog.tx_show_create_table(_path(m.group(1), base_dir))
        return spark.createDataFrame([(ddl,)], "createtab_stmt string")

    m = re.match(rf"(?is)^SHOW{_WS}TBLPROPERTIES{_WS}{_IDENT}$", s)
    if m:
        path = _path(m.group(1), base_dir)
        if not _is_lake_table(path):
            raise FileNotFoundError(f"not a lake table: {path}")
        # every row is DERIVED from the log (newest-wins resolution),
        # never a stored string — the properties can't drift from the
        # behavior they describe
        props = [
            ("delta.enableRowTracking",
             str(bool(txlog.table_row_tracking(path))).lower()),
            ("delta.columnMapping.mode",
             "name" if txlog.table_column_mapping(path) is not None
             else "none"),
            ("delta.enableInCommitTimestamps", "true"),  # always stamped
        ]
        cb = txlog.table_cluster_by(path)
        if cb:
            props.append(("clusteringColumns", ",".join(cb)))
        return spark.createDataFrame(props, "key string, value string")

    m = re.match(
        rf"(?is)^SHOW{_WS}COLUMNS{_WS}(?:IN|FROM){_WS}{_IDENT}$", s
    )
    if m:
        path = _path(m.group(1), base_dir)
        schema = txlog.table_schema(path)
        if schema is None:
            raise FileNotFoundError(f"no recorded schema: {path}")
        return spark.createDataFrame(
            [(f.name,) for f in schema.fields], "col_name string"
        )

    m = re.match(rf"(?is)^SHOW{_WS}PARTITIONS{_WS}{_IDENT}$", s)
    if m:
        path = _path(m.group(1), base_dir)
        combos = txlog.tx_partitions(path)
        cols = txlog.table_partition_by(path)
        if not cols:
            raise ValueError(f"{path} declares no partition columns")
        return spark.createDataFrame(
            [tuple(c.get(col) for col in cols) for c in combos],
            ", ".join(f"{c} string" for c in cols),
        )

    # ---------------- FSCK / GENERATE ----------------
    m = re.match(
        rf"(?is)^FSCK{_WS}REPAIR{_WS}TABLE{_WS}{_IDENT}"
        rf"({_WS}DRY{_WS}RUN)?$",
        s,
    )
    if m:
        path = _path(m.group(1), base_dir)
        dry = bool(m.group(2))
        missing = txlog.tx_fsck(path, dry_run=dry)
        return _result(
            spark, "fsck", path,
            None if dry else (txlog.log_versions(path) or [None])[-1],
            f"{len(missing)} missing file references "
            + ("found" if dry else "removed"),
        )

    m = re.match(
        rf"(?is)^GENERATE{_WS}symlink_format_manifest{_WS}FOR{_WS}"
        rf"TABLE{_WS}{_IDENT}$",
        s,
    )
    if m:
        path = _path(m.group(1), base_dir)
        out = txlog.tx_generate_manifest(path)
        return _result(spark, "generate_manifest", path, None, out)

    # ---------------- SHOW TABLES / DESCRIBE ----------------
    if re.match(rf"(?is)^SHOW{_WS}TABLES$", s):
        rows = []
        for name in sorted(os.listdir(base_dir)):
            p = os.path.join(base_dir, name)
            if _is_lake_table(p):
                rows.append((name, "table"))
            elif name.endswith(".view.sql") and os.path.isfile(p):
                rows.append((name[: -len(".view.sql")], "view"))
        return spark.createDataFrame(
            rows or [(None, None)], "name string, type string"
        ).filter("name IS NOT NULL")

    m = re.match(rf"(?is)^DESCRIBE{_WS}DETAIL{_WS}{_IDENT}$", s)
    if m:
        return txlog.tx_detail(spark, _path(m.group(1), base_dir))
    m = re.match(rf"(?is)^DESCRIBE{_WS}HISTORY{_WS}{_IDENT}$", s)
    if m:
        return txlog.tx_history(spark, _path(m.group(1), base_dir))
    m = re.match(rf"(?is)^DESCRIBE{_WS}(?:TABLE{_WS})?{_IDENT}$", s)
    if m:
        path = _path(m.group(1), base_dir)
        if not _is_lake_table(path):
            # not a lake table: defer to the session catalog (the
            # CLI's typed-CSV temp views DESCRIBE through Spark)
            return spark.sql(s)
        schema = txlog.table_schema(path)
        if schema is None:
            raise FileNotFoundError(f"no schema committed under {path}")
        pb = set(txlog.table_partition_by(path))
        gmap = txlog.table_generated_columns(path)
        idents = txlog.table_identity(path)
        defaults = txlog.table_column_defaults(path)
        rows = []
        for f in schema.fields:
            extras = []
            if f.name in pb:
                extras.append("partition")
            if f.name in gmap:
                extras.append(f"generated as ({gmap[f.name]})")
            if f.name in idents:
                spec = idents[f.name]
                extras.append(
                    "identity "
                    + ("always" if spec["always"] else "by default")
                )
            if f.name in defaults:
                extras.append(f"default {defaults[f.name]}")
            rows.append(
                (f.name, f.dataType.simpleString(), ", ".join(extras))
            )
        return spark.createDataFrame(
            rows, "col_name string, data_type string, extra string"
        )

    # ---------------- SELECT (incl. time travel) ----------------
    if re.match(r"(?is)^(SELECT|WITH)\b", s):
        return spark.sql(_register_lake_views(spark, s, base_dir))

    # EXPLAIN [EXTENDED|FORMATTED|COST|CODEGEN] <select>: rewrite the
    # query part's lake references (snapshot views, time travel,
    # table_changes) exactly like a SELECT, then let Spark explain it —
    # the operator's plan-inspection loop over lake tables
    m = re.match(
        rf"(?is)^EXPLAIN({_WS}(?:EXTENDED|FORMATTED|COST|CODEGEN))?"
        rf"{_WS}((?:SELECT|WITH)\b.*)$",
        s,
    )
    if m:
        mode = (m.group(1) or "").strip().upper()
        body = _register_lake_views(spark, m.group(2), base_dir)
        # assemble the prefix conditionally — a global "  "→" " replace
        # would also rewrite string literals inside the explained query
        prefix = "EXPLAIN" + (f" {mode}" if mode else "")
        return spark.sql(f"{prefix} {body}")

    # EXPLAIN <MERGE|UPDATE|DELETE>: plan inspection for the WRITE
    # paths — the scans a user actually tunes on a big table. Returns
    # one row per write-path phase (hit-file discovery, then the
    # rewrite/clause projection) so the source-key join strategy and
    # pushed filters are visible without committing anything.
    m = re.match(
        rf"(?is)^EXPLAIN({_WS}(?:EXTENDED|FORMATTED|COST|CODEGEN))?"
        rf"{_WS}((?:MERGE|UPDATE|DELETE|INSERT)\b.*)$",
        s,
    )
    if m:
        mode = (m.group(1) or "").strip().lower() or "simple"
        return _explain_dml(spark, m.group(2), base_dir, mode)

    raise ValueError(f"unsupported lake SQL statement: {sql!r}")


def _explain_plan_df(
    spark: SparkSession, phases: list[tuple[str, DataFrame]], mode: str
) -> DataFrame:
    """(phase, plan) rows from representative DataFrames — the same
    explainString the classic ``DataFrame.explain`` prints."""
    jvm = spark.sparkContext._jvm
    rows = [
        (name, jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), mode))
        for name, df in phases
    ]
    return spark.createDataFrame(rows, "phase string, plan string")


def _explain_dml(
    spark: SparkSession, body: str, base_dir: str, mode: str
) -> DataFrame:
    """Representative read plans for MERGE/UPDATE/DELETE without
    executing the write: phase 1 is the hit-file discovery scan
    (tx_merge's source-key leftsemi join / the predicate filter of
    the copy-on-write kernel behind UPDATE-DELETE, `txlog.py`
    tx_merge/_cow_rewrite), phase 2 the rewrite projection over the
    hit rows. The frames mirror
    the write path's shape (same joins, same predicates over the same
    snapshot scan) — broadcast decisions, pushed filters and the
    absence of a cartesian show up exactly as the write would plan
    them."""
    from pyspark.sql import functions as F

    m = re.match(
        rf"(?is)^MERGE{_WS}INTO{_WS}{_IDENT}"
        rf"(?:{_WS}(?:AS{_WS})?(?!USING\b)(\w+))?{_WS}USING{_WS}"
        rf"(?:\((.*)\)|{_IDENT})(?:{_WS}(?:AS{_WS})?(?!ON\b)(\w+))?{_WS}"
        rf"ON{_WS}(.*?)(?:{_WS}WHEN\b.*)?$",
        body,
    )
    if m:
        path = _path(m.group(1), base_dir)
        if m.group(3):
            src = spark.sql(
                _register_lake_views(spark, m.group(3), base_dir)
            )
        else:
            src_path = _path(m.group(4), base_dir)
            if _is_lake_table(src_path):
                src = txlog.read_snapshot(spark, src_path)
            else:
                src = spark.table(m.group(4).strip("`"))
        on = m.group(6).strip()
        km = re.fullmatch(r"\(([^)]*)\)", on)
        if km:
            keys = _split_cols(km.group(1))
        else:
            keys = []
            for clause in re.split(r"(?i)\s+AND\s+", on):
                cm = re.fullmatch(
                    r"(?:\w+\.)?(\w+)\s*=\s*(?:\w+\.)?(\w+)",
                    clause.strip(),
                )
                if not cm or cm.group(1) != cm.group(2):
                    raise ValueError(
                        "EXPLAIN MERGE ON supports same-named equality "
                        f"conjunctions or a (key, ...) list, got: {on!r}"
                    )
                keys.append(cm.group(1))
        tgt = txlog.read_snapshot(spark, path)
        hit = tgt.join(src.select(*keys).distinct(), keys, "leftsemi")
        jc = None
        for k in keys:
            e = F.col(f"t.{k}") == F.col(f"s.{k}")
            jc = e if jc is None else (jc & e)
        clause = tgt.alias("t").join(src.alias("s"), jc, "left_outer")
        return _explain_plan_df(
            spark,
            [("hit_file_discovery", hit), ("clause_projection", clause)],
            mode,
        )

    m = re.match(
        rf"(?is)^UPDATE{_WS}{_IDENT}{_WS}SET{_WS}(.*?)"
        rf"(?:{_WS}WHERE{_WS}(.*))?$",
        body,
    )
    if m:
        path = _path(m.group(1), base_dir)
        pred = F.coalesce(F.expr(m.group(3) or "true"), F.lit(False))
        snap = txlog.read_snapshot(spark, path)
        rewrite = snap
        for part in _split_top(m.group(2)):
            col, _, expr = part.partition("=")
            if not expr:
                raise ValueError(f"bad SET clause: {part!r}")
            col = col.strip().strip("`")
            rewrite = rewrite.withColumn(
                col,
                F.when(pred, F.expr(expr.strip())).otherwise(F.col(col)),
            )
        return _explain_plan_df(
            spark,
            [("hit_file_discovery", snap.filter(pred)),
             ("rewrite_projection", rewrite)],
            mode,
        )

    m = re.match(
        rf"(?is)^DELETE{_WS}FROM{_WS}{_IDENT}(?:{_WS}WHERE{_WS}(.*))?$",
        body,
    )
    if m:
        path = _path(m.group(1), base_dir)
        pred = F.coalesce(F.expr(m.group(2) or "true"), F.lit(False))
        snap = txlog.read_snapshot(spark, path)
        return _explain_plan_df(
            spark,
            [("hit_file_discovery", snap.filter(pred)),
             ("survivor_rewrite", snap.filter(~pred))],
            mode,
        )

    # INSERT INTO t [(cols)] <SELECT|VALUES>: the append path's only
    # plan is its input — replace-where/partition-overwrite variants
    # additionally show the hit-partition scan their predicate prunes
    m = re.match(
        rf"(?is)^INSERT{_WS}INTO{_WS}{_IDENT}"
        rf"(?:{_WS}REPLACE{_WS}WHERE{_WS}(.*?))?"
        rf"(?:\s*\(([^)]*)\))?{_WS}?((?:SELECT|WITH|VALUES)\b.*)$",
        body,
    )
    if m:
        path = _path(m.group(1), base_dir)
        ins = m.group(4).strip()
        if re.match(r"(?i)^VALUES\b", ins):
            df = spark.sql(f"SELECT * FROM ({ins})")
        else:
            df = spark.sql(_register_lake_views(spark, ins, base_dir))
        phases = [("append_input", df)]
        if m.group(2):
            pred = F.coalesce(F.expr(m.group(2)), F.lit(False))
            snap = txlog.read_snapshot(spark, path)
            phases.append(("replaced_rows_scan", snap.filter(pred)))
        return _explain_plan_df(spark, phases, mode)

    raise ValueError(f"unsupported EXPLAIN DML statement: {body!r}")


def is_lake_statement(sql: str) -> bool:
    """Whether ``tx_sql`` (vs a plain ``spark.sql``) should run this
    statement — the CLI's routing predicate."""
    return bool(re.match(
        r"(?is)^\s*(CREATE\s+(OR\s+REPLACE\s+(TABLE|VIEW)|TABLE|VIEW|"
        r"BLOOMFILTER\s+INDEX)|"
        r"INSERT\s+(INTO|OVERWRITE)|"
        r"MERGE\s+INTO|UPDATE\s|"
        r"DELETE\s+FROM|ALTER\s+TABLE|OPTIMIZE\s|REORG\s+TABLE|"
        r"ANALYZE\s+TABLE|"
        r"VACUUM\s|RESTORE\s|"
        r"COPY\s+INTO|CONVERT\s+TO\s+LAKE|FSCK\s+REPAIR|"
        r"GENERATE\s+symlink\w*|"
        r"TRUNCATE\s+TABLE|DROP\s+(TABLE|VIEW)|"
        r"SHOW\s+(CREATE\s+TABLE|PARTITIONS|TABLES|TBLPROPERTIES|"
        r"COLUMNS)|"
        r"DESCRIBE\s|"
        # only the EXPLAIN bodies tx_sql implements — anything else
        # falls through to plain spark.sql
        r"EXPLAIN\s+(?:(?:EXTENDED|FORMATTED|COST|CODEGEN)\s+)?"
        r"(?:SELECT|WITH|MERGE|UPDATE|DELETE|INSERT))\b",
        sql,
    ))
