"""S1/S6 as a first-class Spark 4 Python DataSource: the reference's
landing-directory ingest (`/root/reference/src/app.py:46-93` — walk a
drop dir, dispatch each file by extension, parse with per-row error
capture) exposed as ``spark.read.format("doc_landing").load(dir)``.

Why a DataSource when ``io.read_landing_dir`` + ``parsers.parse_documents``
already cover the path: the binaryFile route materializes every file's
bytes into a DataFrame column and THEN parses — two passes over the
bytes (scan serialization + Arrow hop into the pandas_udf). A Python
DataSource parses inside the reader itself, so file bytes never enter a
row: each task opens its own files, emits only (path, format, n_bytes,
raw_text, parse_error), and a 50 MB PDF costs its text, not its bytes,
in shuffle/cache pressure. It is also the natural seam for source-level
parallelism control (``filesPerPartition``) instead of relying on
binaryFile's byte-size-based split math.

Scale + scope notes:
- Partition planning is one driver-side listing; each InputPartition
  carries ``filesPerPartition`` paths, so a 100k-file drop fans out to
  100k/N tasks regardless of file sizes. Listing cost is O(files), the
  same as any file-source driver-side planning.
- The reader opens files with plain ``open()`` — LOCAL (or
  locally-mounted: NFS, FUSE) filesystems only, which is exactly the
  reference's landing-dir contract. For hdfs:// / s3a:// drops use the
  binaryFile route (``io.read_landing_dir``), which rides Hadoop's
  FileSystem. The constructor fails fast on a URI scheme.
- Per-row fault tolerance is inherited from the parser table: a corrupt
  file yields (None, error-string), never a task failure (D5).

Usage::

    from multiagent_document_etl_system_spark.sources.landing_ds import (
        DocLandingDataSource)
    spark.dataSource.register(DocLandingDataSource)
    df = (spark.read.format("doc_landing")
          .option("filesPerPartition", "16").load("/drops/2026-08-16"))
    # streaming flavor: tail the drop dir, exactly-once per file
    q = (spark.readStream.format("doc_landing").load("/drops/live")
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt).start())
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from multiagent_document_etl_system_spark.sources.filestream import (
    SeenSetFileStreamReader,
)

#: matches parsers.parse_documents' output surface (path/format/
#: raw_text/parse_error) plus the size the binaryFile route carries
LANDING_SCHEMA = ("path string, format string, n_bytes bigint, "
                  "raw_text string, parse_error string")


class _FileGroup(InputPartition):
    def __init__(self, paths: list[str]):
        self.paths = paths


class DocLandingReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("doc_landing requires a load path: "
                             "spark.read.format('doc_landing').load(dir)")
        if "://" in path and not path.startswith("file://"):
            raise ValueError(
                f"doc_landing reads local/mounted paths only, got {path!r}"
                " — use io.read_landing_dir (binaryFile) for hdfs/s3a")
        self.path = path.removeprefix("file://")
        self.files_per_partition = max(
            1, int(options.get("filesperpartition", "8")))

    def partitions(self) -> list[InputPartition]:
        # one recursive listing on the driver (sorted for determinism),
        # chunked into fixed-size file groups — task parallelism tracks
        # FILE COUNT, not byte size, because parse cost is per-document
        paths: list[str] = []
        for root, _, files in os.walk(self.path):
            for f in files:
                paths.append(os.path.join(root, f))
        paths.sort()
        n = self.files_per_partition
        groups = [paths[i:i + n] for i in range(0, len(paths), n)]
        return [_FileGroup(g) for g in groups] or [_FileGroup([])]

    def read(self, partition: _FileGroup):
        # executor-side; the parsers import inside _parse_one is deferred
        # so the DataSource class pickles small and the parser table
        # initializes per-worker
        for p in partition.paths:
            yield _parse_one(p)


def _parse_one(path: str):
    """One (path, format, n_bytes, raw_text, parse_error) row — shared by
    the batch reader and the stream reader so the two routes cannot
    diverge in dispatch or error semantics."""
    from multiagent_document_etl_system_spark.sources.parsers import (
        format_for_path,
        parse_bytes,
    )

    try:
        with open(path, "rb") as fh:
            b = fh.read()
    except OSError as exc:  # deleted between list and read
        # format still comes from the dispatch table (r10 ADVICE: a
        # hardcoded 'text' here made a vanished .pdf skew per-format
        # aggregations such as s9_landing_stream's groupBy('format'))
        return (path, format_for_path(path), 0, None,
                f"read failed: {exc}")
    fmt = format_for_path(path)
    return (path, fmt, len(b), *parse_bytes(fmt, b))


class DocLandingStreamReader(SeenSetFileStreamReader):
    """S6's streaming flavor through the Spark 4 DataSource API:
    ``spark.readStream.format("doc_landing").load(dir)`` tails a drop
    directory — each micro-batch parses exactly the files that appeared
    since the last committed offset.

    PARTITION-PLANNED (r11, verdict #2): the first cut rode
    ``SimpleDataSourceStreamReader``, whose contract executes ``read()``
    on the DRIVER — one Python process parsed every record (measured 656
    files/s on a 5k-file drop, SCALE.md r10, vs the batch reader's
    fully-parallel 1.35 s). The cumulative-seen-set offset model, the
    restart/replay semantics, and their scope notes live in the shared
    base (sources/filestream.SeenSetFileStreamReader — also behind the
    avro_py stream); this subclass only supplies the executor-side
    decode. Measured r11: marginal 5k-file stream cost 1.03 s ≈ the
    batch DataSource's own 1.07 s parquet-write cost (SCALE.md).
    """

    def read(self, partition):
        # executor-side, exactly like the batch reader — bytes never
        # transit the driver
        for p in partition.paths:
            yield _parse_one(p)


class DocLandingDataSource(DataSource):
    """``format("doc_landing")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "doc_landing"

    def schema(self) -> str:
        return LANDING_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return DocLandingReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return DocLandingStreamReader(self.options)
