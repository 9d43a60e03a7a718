"""Sources & sinks (SURVEY.md §2.1–§2.2).

The reference ingests one uploaded file per HTTP request and persists to
Postgres + object storage (``/root/reference/src/app.py:46-116``,
``/root/reference/src/supabase_client.py:45-76``). Here the sources are the
driver's parquet tables plus a ``binaryFile`` landing-directory source (S6),
and the sinks are parquet/JDBC writers.

All loads are plain ``spark.read.parquet`` — columnar scan, predicate
pushdown and column pruning come free from Catalyst. At 100 TB the same call
reads a partitioned directory tree; nothing here assumes single-file inputs.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Small dimension tables that should always broadcast in joins at any scale.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})


_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name != "events":
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # ts is TIMESTAMP(NANOS) in the parquet footer, which Spark's reader
    # rejects outright (PARQUET_TYPE_ILLEGAL). nanosAsLong is a dynamic SQL
    # conf, so set it here rather than relying on the session builder —
    # callers (e.g. the external driver) supply their own SparkSession. The
    # prior value is restored right after the relation is resolved (the scan
    # captures the flag at read time), so the legacy behavior never leaks
    # into the caller's later TIMESTAMP(NANOS) reads.
    try:
        prior = spark.conf.get(_NANOS_CONF)
    except Exception:  # noqa: BLE001 — unset, or conf not known to this build
        prior = None
    spark.conf.set(_NANOS_CONF, "true")
    try:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    finally:
        if prior is None:
            spark.conf.unset(_NANOS_CONF)
        else:
            spark.conf.set(_NANOS_CONF, prior)
    # The nanos long is converted to a microsecond TimestampType,
    # matching DuckDB's CAST(ts AS TIMESTAMP). Newer Spark builds read
    # TIMESTAMP(NANOS) natively as TIMESTAMP_NTZ (micros-truncated); the
    # parquet stores UTC-adjusted nanos, so interpreting the NTZ wall clock
    # as UTC reconstructs the identical instant the legacy long path
    # produced — keeping the engine-facing contract at TimestampType.
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        df = df.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
    elif isinstance(ts_type, TimestampNTZType):
        df = df.withColumn("ts", F.to_utc_timestamp("ts", "UTC"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL surface)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when ``df`` plans into fewer
    partitions than the session's parallelism.

    Parquet scans parallelize at row-group granularity; a small input (or a
    writer that emitted one big row group) serializes every downstream
    CPU-heavy map stage. At cluster scale inputs have thousands of row
    groups, the predicate is false, and this is a no-op — so the shuffle
    cost is only ever paid when it buys real parallelism. Use it on table
    or parquet frames before expensive narrow transforms (shingling,
    hashing, regex extraction); never needed before joins/aggs, which
    shuffle anyway. Landing-dir (``binaryFile``) scans don't need it: they
    already pack files into partitions by ``openCostInBytes``.

    The partition count is probed on every call (it plans ``df``), so a
    re-read of a path whose file set changed gets a fresh answer."""
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target) if df.rdd.getNumPartitions() < target else df


#: (applicationId, *key) → the value ``once_per_session`` built for it.
_SESSION_VALUES: dict[tuple, object] = {}
# held while building, so concurrent callers of one key build it once;
# reentrant, so a build may itself stage another key
_SESSION_LOCK = threading.RLock()


def once_per_session(spark: SparkSession, key: tuple,
                     build: Callable[[], object]):
    """``build()``'s value, built once per Spark application and ``key``.

    For fixture stagings (a dir or table a registry query writes once and
    then only reads): the write is setup, not part of the measured query,
    and a rerun inside the session re-reads it. ``key`` names the staging
    and its inputs, e.g. ``("st_events", sf_dir)``."""
    k = (spark.sparkContext.applicationId, *key)
    with _SESSION_LOCK:
        if k not in _SESSION_VALUES:
            _SESSION_VALUES[k] = build()
        return _SESSION_VALUES[k]


def read_landing_dir(spark: SparkSession, path: str,
                     glob: str | None = None) -> DataFrame:
    """S6 — binary landing-directory scan (``/root/reference/src/app.py:46-116``).

    Returns (path, modificationTime, length, content binary). At scale this is
    the batch flavor of the streaming ingest in ``streaming/streamx.py``.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def read_jsonl_corpus(spark: SparkSession, path: str,
                      schema: str) -> DataFrame:
    """S6 variant — JSONL corpus ingest with PER-ROW fault capture.

    The reference fails a whole request on a malformed document
    (``/root/reference/src/app.py:96-116``); corpus-scale ingest cannot — a
    single bad line in a 100 TB drop must cost one row, not one job.
    PERMISSIVE mode parks the raw text of every unparseable line in
    ``_corrupt_record`` (all other columns NULL), exactly the nullable
    ``error``-column contract the pipeline uses downstream; fields missing
    from a line are NULL (schema drift tolerated). The scan stays a
    splittable line-oriented read with column pruning into the JSON
    parser.
    """
    return (
        spark.read.schema(schema + ", _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def read_csv_corpus(spark: SparkSession, path: str, schema: str,
                    header: bool = True) -> DataFrame:
    """S6 variant — CSV corpus ingest, same per-row fault contract as
    :func:`read_jsonl_corpus`: any malformed line (type mismatch, short
    row) keeps whatever fields parsed AND parks the raw line in
    ``_corrupt_record`` for the audit trail.

    Built as a splittable ``text`` scan + ``from_csv`` expression rather
    than the raw CSV source: Spark's native scan refuses plans that
    reference only the corrupt-record column
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), which is
    precisely the "count the bad rows" audit query an ingest pipeline
    runs first. The expression form has no such restriction and the
    parse stays JVM-side codegen.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    lines = spark.read.text(path)
    if header:
        # drop every line equal to the schema's column-name row — a pure
        # per-row predicate (no driver-side first() peek), which also
        # swallows the repeated headers of concatenated multi-file dumps.
        # Documented tradeoffs of the naive comma-join match: (1) a DATA
        # row that happens to equal the exact header string is silently
        # dropped — impossible when any column is numeric (the header
        # would not type-parse), vanishingly unlikely otherwise; (2) a
        # header written with quotes/extra whitespace survives the filter
        # and lands in _corrupt_record, i.e. is COUNTED in the audit
        # rather than dropped — the fail-loud side of the trade
        names = [f.name for f in StructType.fromDDL(schema).fields]
        lines = lines.filter(F.col("value") != ",".join(names))
    parsed = F.from_csv(
        F.col("value"), schema + ", _corrupt_record string",
        {"mode": "PERMISSIVE",
         "columnNameOfCorruptRecord": "_corrupt_record"},
    )
    return lines.select(parsed.alias("_r")).select("_r.*")


def read_fixed_width_corpus(spark: SparkSession, path: str,
                            colspecs: list[tuple[str, int, int, str]],
                            ) -> DataFrame:
    """S6 variant — FIXED-WIDTH text ingest (the mainframe/ERP export
    format: every field a byte range of the line), same per-row fault
    contract as the other corpus readers: a line shorter than a field's
    extent yields NULL for that field and parks the raw line in
    ``_corrupt_record``; a parseable-but-mistyped field NULLs that field
    only.

    ``colspecs``: (name, start_1_based, length, ddl_type) per field —
    e.g. ``[("doc_id", 1, 8, "bigint"), ("lang", 9, 2, "string")]``.

    Plan: a splittable ``text`` scan + per-field ``substring`` +
    ``try_cast`` projections — whole-stage codegen end-to-end, no UDF,
    no format library; at 100 TB this parallelizes per line like CSV
    (fixed-width is newline-delimited, hence splittable)."""
    from pyspark.sql import functions as F

    lines = spark.read.text(path)
    min_len = max(start + ln - 1 for _, start, ln, _ in colspecs)
    cols = []
    for name, start, ln, typ in colspecs:
        raw = F.trim(F.substring(F.col("value"), start, ln))
        val = F.when(F.length("value") >= start + ln - 1,
                     raw.try_cast(typ))
        cols.append(val.alias(name))
    bad = F.length("value") < min_len
    for name, start, ln, typ in colspecs:
        raw = F.trim(F.substring(F.col("value"), start, ln))
        bad = bad | (raw.try_cast(typ).isNull() & (raw != ""))
    cols.append(F.when(bad, F.col("value")).alias("_corrupt_record"))
    return lines.select(*cols)


def read_xml_corpus(spark: SparkSession, path: str, row_tag: str = "doc",
                    schema: str | None = None) -> DataFrame:
    """S6 variant — XML corpus ingest (Spark 4's built-in ``xml`` source;
    the spark-xml package was merged into core in 4.0), same per-row
    fault contract as :func:`read_jsonl_corpus`: with an explicit schema,
    PERMISSIVE mode parks each malformed record's raw XML in
    ``_corrupt_record`` instead of failing the job; without one, the
    source schema-infers (a second pass over the data — fine for a
    one-off exploration, pass a schema for production ingest).

    Scale note: XML records spanning lines make the format non-splittable
    per row-tag region the way JSONL is per line, but the source still
    parallelizes per FILE — a 100 TB XML drop should arrive as many
    files, which is how such dumps (e.g. wiki exports) ship anyway.
    """
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = (reader.schema(schema + ", _corrupt_record string")
                  .option("mode", "PERMISSIVE")
                  .option("columnNameOfCorruptRecord", "_corrupt_record"))
    return reader.load(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by: list[str] | None = None) -> None:
    """K1/K2-style sink as parquet. ``partition_by`` (e.g. ingest date,
    source) is the 100 TB layout lever: partition pruning on read."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite",
              partition_by: list[str] | None = None) -> None:
    """ORC sink (Spark's built-in native ORC writer) — the columnar
    format interop path for Hive/Trino-adjacent warehouses. Same layout
    levers as :func:`write_parquet`: ``partition_by`` drives partition
    pruning; ORC carries min/max stripe statistics, so pushed-down
    predicates skip stripes on read just like parquet row groups."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan (native reader — ``spark.sql.orc.impl=native`` is the
    default); filter/column pushdown works as with parquet."""
    return spark.read.orc(path)


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    return HPath(path).getFileSystem(hconf), HPath


def path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists on its (Hadoop) filesystem."""
    fs, HPath = _hadoop_fs(spark, path)
    return bool(fs.exists(HPath(path)))


def _restore_if_crashed(fs, HPath, path: str, old: str) -> None:
    """A crash between the two swap renames leaves the live table parked
    at ``old`` and nothing at ``path`` — restore the backup before any
    caller rebuilds from partial inputs."""
    if fs.exists(HPath(old)) and not fs.exists(HPath(path)):
        if not fs.rename(HPath(old), HPath(path)):
            raise IOError(
                f"recovery rename {old} -> {path} failed; manual fix needed")


def _swap_into_place(fs, HPath, tmp: str, path: str, old: str) -> None:
    """Crash-safe swap: move the live table ASIDE (not delete), rename the
    rebuilt table into place, then drop the backup. A crash between the
    two renames leaves the data recoverable at ``old``; a crash before
    the first rename leaves the live table untouched."""
    fs.delete(HPath(old), True)
    had_existing = fs.exists(HPath(path))
    if had_existing and not fs.rename(HPath(path), HPath(old)):
        raise IOError(f"rename {path} -> {old} failed")
    if not fs.rename(HPath(tmp), HPath(path)):
        if had_existing:
            fs.rename(HPath(old), HPath(path))
        raise IOError(f"rename {tmp} -> {path} failed")
    fs.delete(HPath(old), True)


def safe_overwrite_parquet(spark: SparkSession, df: DataFrame,
                           path: str) -> None:
    """Overwrite ``path`` with ``df`` even when ``df``'s plan READS from
    ``path`` (mode('overwrite') on the same directory would delete the
    input mid-scan): write to a side directory, then crash-safe
    aside-swap. The incremental-processing primitive."""
    fs, HPath = _hadoop_fs(spark, path)
    old = path.rstrip("/") + "__swap_old"
    _restore_if_crashed(fs, HPath, path, old)
    tmp = path.rstrip("/") + "__swap_tmp"
    df.write.mode("overwrite").parquet(tmp)
    _swap_into_place(fs, HPath, tmp, path, old)


def compact_parquet(spark: SparkSession, path: str,
                    target_mb: int = 512) -> dict:
    """Small-file compaction — the lake-maintenance op that keeps a table
    written by thousands of streaming micro-batches / incremental runs
    scannable. Many tiny files mean per-file open/footer overhead
    dominates and task scheduling explodes; the fix is a periodic rewrite
    into ~``target_mb`` files. Computes the file count/bytes from the
    filesystem, rewrites via coalesce (NO shuffle — compaction must not
    pay a redistribution; coalesce merges existing partitions read-side),
    and swaps crash-safely through the same aside-swap machinery as
    :func:`safe_overwrite_parquet` (the read and the overwrite never
    touch the same files; a crash leaves either the old or the new table
    intact). Returns {files_before, bytes, files_after}.

    At 100 TB this runs per PARTITION directory (date/source), not per
    table — pass the partition path; the op never needs to see the whole
    table at once."""
    fs, HPath = _hadoop_fs(spark, path)
    it = fs.listFiles(HPath(path), True)
    n_files = 0
    n_bytes = 0
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if name.endswith(".parquet"):
            n_files += 1
            n_bytes += f.getLen()
    target = max(1, -(-n_bytes // (target_mb * 1024 * 1024)))
    if n_files <= target:
        return {"files_before": n_files, "bytes": n_bytes,
                "files_after": n_files, "compacted": False}
    df = spark.read.parquet(path).coalesce(int(target))
    safe_overwrite_parquet(spark, df, path)
    return {"files_before": n_files, "bytes": n_bytes,
            "files_after": int(target), "compacted": True}


def upsert_parquet(spark: SparkSession, df: DataFrame, path: str,
                   key_cols: list[str]) -> None:
    """K3 — MERGE-style upsert keyed on ``key_cols``
    (/root/reference/src/pinecone_utils.py:55-92: re-upserting an id
    overwrites the stored record).

    Plain parquet has no transactions, so MERGE is emulated: keep existing
    rows whose key does NOT appear in the incoming batch (left-anti join),
    union the batch, write to a side directory, swap via Hadoop FS rename —
    the read and the overwrite never touch the same files. Incoming batch
    wins on key collision. On Delta/Iceberg this function is replaced by a
    real ``MERGE INTO`` (transactional, no rewrite of untouched files);
    the emulation is correct but rewrites the table, so it is intended for
    dimension-scale tables like the schema registry, not the 100 TB fact
    tables.
    """
    fs, HPath = _hadoop_fs(spark, path)

    old = path.rstrip("/") + "__upsert_old"
    # Self-healing: restore a crash-parked backup BEFORE reading existing
    # rows — otherwise this call would rebuild from the incoming batch
    # alone and its cleanup delete of `old` would destroy all prior rows.
    _restore_if_crashed(fs, HPath, path, old)

    if fs.exists(HPath(path)):
        existing = spark.read.parquet(path)
        keep = existing.join(
            df.select(*key_cols).distinct(), key_cols, "left_anti")
        out = keep.unionByName(df)
    else:
        out = df

    tmp = path.rstrip("/") + "__upsert_tmp"
    out.write.mode("overwrite").parquet(tmp)
    _swap_into_place(fs, HPath, tmp, path, old)


def read_jdbc_partitioned(spark: SparkSession, url: str, table: str,
                          partition_column: str, num_partitions: int = 8,
                          lower_bound: int | None = None,
                          upper_bound: int | None = None,
                          **options: str) -> DataFrame:
    """K1's READ direction, sized for a cluster: a plain ``spark.read
    .jdbc`` pulls the whole table through ONE connection on one executor
    — the serial-ingest anti-pattern at any scale. This splits the scan
    into ``num_partitions`` range predicates on an integral
    ``partition_column`` (each executor opens its own connection for its
    stride), the standard Spark parallel-JDBC contract.

    Bounds default to a one-row min/max probe of the source table — the
    same cheap aggregate a production ingest job issues first. NOTE:
    per Spark's JDBC contract, explicit lowerBound/upperBound only size
    the partition STRIDES — the two edge partitions are open-ended
    (``col < lo+stride`` and ``col >= hi-stride``), so every row is
    still returned regardless of bounds (tests/test_jdbc.py pins this:
    bounds 0..99 over 1000 ids reads all 1000 rows). Callers wanting an
    actual window must add an explicit ``.filter`` / ``predicates`` —
    bounds never filter. Empty table ⇒ empty frame (bounds probe
    returns NULLs ⇒ unpartitioned read of zero rows).

    Pushdown note: the range predicates land in each partition's WHERE
    clause server-side; further filters composed on the returned frame
    are pushed into the JDBC source by Catalyst where the dialect
    supports them (`PushedFilters` in the scan node)."""
    # the bounds probe must QUOTE the identifier: Spark's JDBC writer
    # creates case-sensitive quoted columns, so an unquoted name would
    # resolve to the dialect's upper-cased identifier and miss
    # (Derby/Postgres/Oracle use ANSI double quotes; pass quote_char='`'
    # for MySQL)
    qc = options.pop("quote_char", '"')
    reader = (spark.read.format("jdbc").option("url", url)
              .option("dbtable", table).options(**options))
    if lower_bound is None or upper_bound is None:
        col = f"{qc}{partition_column}{qc}"
        probe = (spark.read.format("jdbc").option("url", url)
                 .option("query",
                         f"SELECT MIN({col}) AS lo, "
                         f"MAX({col}) AS hi FROM {table}")
                 .options(**options).load().first())
        # positional access: dialects re-case unquoted aliases
        # (Derby upper-cases 'lo' -> 'LO')
        if probe[0] is None:  # empty source table
            return reader.load()
        lower_bound = int(probe[0]) if lower_bound is None \
            else lower_bound
        upper_bound = int(probe[1]) if upper_bound is None \
            else upper_bound
    return (reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
            .load())


def _pidfile_owner_state(run_dir: str) -> str:
    """'alive' | 'dead' | 'unknown' for run_dir's ``_OWNER_PID``.

    'unknown' covers a missing pidfile AND an unreadable/empty one — a
    concurrent creator may have opened the file but not yet flushed the
    pid (r11 review), so unreadable must NOT be treated as dead."""
    import os

    try:
        with open(os.path.join(run_dir, "_OWNER_PID")) as fh:
            pid = int(fh.read().strip())
    except (OSError, ValueError):
        return "unknown"
    try:
        os.kill(pid, 0)
        return "alive"
    except ProcessLookupError:
        return "dead"
    except (PermissionError, OSError):
        return "alive"  # exists but not ours — definitely alive


def _newest_mtime(run_dir: str) -> float:
    """Newest mtime of ANYTHING under run_dir (recursive — a dir's own
    mtime only moves when direct children are added/removed, while e.g.
    Derby's ongoing writes land deeper)."""
    import os

    newest = 0.0
    for base, _, names in os.walk(run_dir):
        for n in [*names, "."]:
            try:
                newest = max(newest, os.path.getmtime(
                    os.path.join(base, n)))
            except OSError:
                pass
    return newest


def scratch_run_dir(root: str, stale_after_sec: float = 3600.0) -> str:
    """Create a fresh pidfile-owned run directory under ``root``, purging
    siblings left by prior crashed runs first.

    Liveness is keyed on each sibling's ``_OWNER_PID`` pidfile, NOT the
    directory mtime (r10 ADVICE: a dir's mtime only changes when direct
    children are added/removed — a live embedded-Derby database whose
    writes land deeper could be deleted out from under a >1h-old
    concurrent session). A sibling is purged only when its recorded
    owner is dead (``kill(pid, 0)`` fails) or when its owner is UNKNOWN
    (no pidfile — pre-r11 layout, a run mid-creation, or an
    unreadable/empty pidfile a concurrent creator hasn't flushed yet)
    and nothing under it has been touched for ``stale_after_sec``.
    The caller still owns end-of-life cleanup (atexit/rmtree)."""
    import os
    import shutil
    import tempfile
    import time

    os.makedirs(root, exist_ok=True)
    now = time.time()
    for stale in os.listdir(root):
        p = os.path.join(root, stale)
        try:
            if not os.path.isdir(p):
                continue
            state = _pidfile_owner_state(p)
            if state == "alive":
                continue
            # dead recorded owner => crashed run, purge now; unknown
            # owner => only after stale_after_sec of recursive quiet
            if state == "dead" or now - _newest_mtime(p) > stale_after_sec:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    run_dir = tempfile.mkdtemp(prefix="run_", dir=root)
    with open(os.path.join(run_dir, "_OWNER_PID"), "w") as fh:
        fh.write(str(os.getpid()))
    return run_dir


def write_jdbc(df: DataFrame, url: str, table: str,
               mode: str = "append", **options: str) -> None:
    """K1 — Postgres insert sink (``/root/reference/src/supabase_client.py:45-76``)
    as a JDBC batch append. Round-trip tested against embedded Derby (a
    real in-process JDBC database, tests/test_jdbc.py); Postgres is the
    same call with its url/driver options."""
    df.write.format("jdbc").option("url", url).option("dbtable", table) \
        .options(**options).mode(mode).save()
