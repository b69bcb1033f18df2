"""Custom Spark 4 Python Data Source for image-stack blocks (SURVEY §2.1
S2 long-term plan: "Spark 4 Python Data Source API (custom DataSource)
for CZI").

Usage::

    spark.dataSource.register(StackBlockDataSource)
    df = (spark.read.format("stack_blocks")
          .option("stacks", "a,b")
          .option("z", 40).option("y", 32).option("x", 32)
          .option("block_z", 16).option("block_y", 16).option("block_x", 16)
          .load())

    # incremental ingestion of the same tile list (see
    # StackBlockStreamReader): micro-batches of stream_batch_tiles tiles
    spark.readStream.format("stack_blocks").option(...).load()

Each input partition is one (stack, z0, y0, x0) tile — Spark schedules
tiles exactly like parquet splits, and the reader streams Arrow-friendly
rows. ``reader="synthetic"`` emits the deterministic ramp;
``reader="czi"`` decodes real CZI files under ``input_dir`` (czifile
when installed, the vendored ZISRAW reader otherwise), with one
z-slab per partition — a partition is the decode unit, so slabs
never decode twice.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from .czi import BLOCK_SCHEMA, list_stacks, synthetic_ramp_block


@dataclass
class _TilePartition(InputPartition):
    stack_name: str
    z0: int
    z1: int
    y0: int
    y1: int
    x0: int
    x1: int
    path: str = ""


class StackBlockDataSource(DataSource):
    """``format("stack_blocks")`` — block rows of BLOCK_SCHEMA."""

    @classmethod
    def name(cls) -> str:
        return "stack_blocks"

    def schema(self):
        return BLOCK_SCHEMA

    def reader(self, schema) -> "StackBlockReader":
        return StackBlockReader(self.options)

    def simpleStreamReader(self, schema) -> "StackBlockStreamReader":
        return StackBlockStreamReader(self.options)


class StackBlockReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.reader = options.get("reader", "synthetic")
        self.bz = int(options.get("block_z", 128))
        self.by = int(options.get("block_y", 0))  # 0 = full extent (czi)
        self.bx = int(options.get("block_x", 0))
        if self.reader == "synthetic":
            self.stacks = [
                s for s in options.get("stacks", "stack").split(",") if s
            ]
            self.z = int(options.get("z", 128))
            self.y = int(options.get("y", 128))
            self.x = int(options.get("x", 128))
            self.by = self.by or 128
            self.bx = self.bx or 128
            self.paths: dict[str, str] = {}
            self.extents = {s: (self.z, self.y, self.x) for s in self.stacks}
        elif self.reader == "czi":
            from .zisraw import stack_extents

            input_dir = options.get("input_dir", "")
            if not input_dir:
                raise ValueError("reader='czi' requires the input_dir option")
            self.paths = list_stacks(input_dir)
            if not self.paths:
                raise ValueError(f"no *.czi stacks under {input_dir}")
            self.extents = {n: stack_extents(p) for n, p in self.paths.items()}
            self.stacks = sorted(self.paths)
        else:
            raise NotImplementedError(
                f"unknown reader {self.reader!r} (synthetic | czi)"
            )

    def partitions(self) -> list[_TilePartition]:
        """One partition per 3-D tile (gen_slices semantics,
        ``zarr_writer.py:129-186``) — the split list Spark schedules.
        For czi stacks the y/x block defaults to the full extent (one
        z-slab per partition = one decode per slab); pass block_y/x to
        subdivide when planes are mosaic-scale."""
        parts = []
        for s in self.stacks:
            z, y, x = self.extents[s]
            by = self.by or y
            bx = self.bx or x
            for z0 in range(0, z, self.bz):
                for y0 in range(0, y, by):
                    for x0 in range(0, x, bx):
                        parts.append(
                            _TilePartition(
                                s,
                                z0,
                                min(z0 + self.bz, z),
                                y0,
                                min(y0 + by, y),
                                x0,
                                min(x0 + bx, x),
                                self.paths.get(s, ""),
                            )
                        )
        return parts

    def read(self, partition: _TilePartition) -> Iterator[tuple]:
        if partition.path:
            from .czi import _read_slab_czifile

            slab = _read_slab_czifile(partition.path, partition.z0, partition.z1)
            arr = slab[:, partition.y0 : partition.y1, partition.x0 : partition.x1]
        else:
            arr = synthetic_ramp_block(
                partition.z0,
                partition.z1,
                partition.y0,
                partition.y1,
                partition.x0,
                partition.x1,
            )
        yield (
            partition.stack_name,
            0,
            0,
            partition.z0,
            partition.z1,
            partition.y0,
            partition.y1,
            partition.x0,
            partition.x1,
            [1, 1, *arr.shape],
            str(arr.dtype),
            arr.tobytes(),
        )


class StackBlockStreamReader(SimpleDataSourceStreamReader):
    """``spark.readStream.format("stack_blocks")`` — the acquisition
    arrives incrementally: each micro-batch serves the next
    ``stream_batch_tiles`` tiles of the SAME deterministic tile list the
    batch reader schedules (so a streaming conversion and a batch
    conversion read identical blocks in identical order).

    The offset is simply ``{"i": <tiles served>}``: monotonic, exactly
    replayable — ``readBetweenOffsets(start, end)`` re-decodes tiles
    [start.i, end.i) for recovery, so the source composes with
    checkpointed, exactly-once sinks (the zarr sink's chunk-aligned
    region writes are idempotent, making the whole streaming conversion
    restartable end-to-end).  In production the bounded tile list
    becomes a growing one (new stacks appended as the microscope
    finishes them); the offset contract is unchanged.
    """

    def __init__(self, options) -> None:
        self._batch = StackBlockReader(options)
        self._tiles = self._batch.partitions()
        self._per_batch = int(options.get("stream_batch_tiles", 4))

    def initialOffset(self) -> dict:
        return {"i": 0}

    def read(self, start: dict):
        i = int(start["i"])
        end = min(i + self._per_batch, len(self._tiles))
        rows = self._rows(i, end)
        return rows, {"i": end}

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._rows(int(start["i"]), int(end["i"]))

    def _rows(self, i: int, end: int):
        out = []
        for t in self._tiles[i:end]:
            out.extend(self._batch.read(t))
        return iter(out)
