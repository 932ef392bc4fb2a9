"""Pluggable Spark 4 Python Data Source for the reference's raw
formats: ``spark.read.format("boatrace").load(glob)`` scans daily
``K/B*.TXT`` result/schedule files — or whole ``.lzh`` archives,
decompressed by the bundled -lh5- decoder — and emits the engine's
tagged parsed-row schema (parse/kernel.PARSED_SCHEMA) without the
caller touching binaryFile or mapInPandas.

Why a Data Source and not just `parse_files`: the DataSourceV2
contract makes the format a first-class catalog citizen — usable from
pure SQL (`CREATE TEMPORARY VIEW r USING boatrace OPTIONS (path ...)`),
from any session that registered it, and with planning-time control of
the file→task packing (the small-file coalesce `parse_binary_df` has
to bolt on after the scan). Same fused decode+parse hot path: each
task opens its files through `bronze.file_members`, runs
`kernel.parse_member` on each, and ships Arrow RecordBatches to the
JVM — raw lines never shuffle, Python touches each byte once.

Registration is per-session: ``register(spark)`` (idempotent).

Scale notes: file listing happens once at planning time on the driver
(exactly like Spark's built-in file sources); executors must see the
same filesystem (shared/posix/object storage). ``files_per_task``
(default 16) is the packing dial — raise it for tiny daily files,
lower it for month archives; a 1000-executor cluster wants
len(files)/files_per_task comfortably above total cores.
"""

from __future__ import annotations

import glob as _glob
from typing import Iterator

import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)
from pyspark.sql.pandas.types import to_arrow_schema

from boatrace_database_spark.parse.kernel import PARSED_SCHEMA, parse_member
from boatrace_database_spark.sources.bronze import file_members

_ARROW_SCHEMA = to_arrow_schema(PARSED_SCHEMA)


class _FilesPartition(InputPartition):
    def __init__(self, paths: list[str]):
        self.paths = paths


class BoatraceReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("boatrace source requires a path (glob)")
        self.files = sorted(_glob.glob(path))
        if not self.files:
            raise ValueError(f"boatrace source matched no files: {path}")
        self.files_per_task = int(options.get("files_per_task", "16"))
        if self.files_per_task < 1:
            raise ValueError("files_per_task must be >= 1")

    def partitions(self) -> list[InputPartition]:
        n = self.files_per_task
        return [
            _FilesPartition(self.files[i : i + n])
            for i in range(0, len(self.files), n)
        ]

    def read(self, partition: _FilesPartition) -> Iterator:
        for path in partition.paths:
            with open(path, "rb") as fh:
                content = fh.read()
            for name, raw in file_members(path, content):
                yield pa.RecordBatch.from_pandas(
                    parse_member(name, raw), schema=_ARROW_SCHEMA, preserve_index=False
                )


class BoatraceDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "boatrace"

    def schema(self):
        return PARSED_SCHEMA

    def reader(self, schema) -> BoatraceReader:
        return BoatraceReader(self.options)


def register(spark) -> None:
    """Register the format on this session (idempotent — re-registering
    replaces the entry)."""
    spark.dataSource.register(BoatraceDataSource)
