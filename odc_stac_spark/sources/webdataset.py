"""WebDataset-style tar-shard source for multimodal training corpora.

The public WebDataset convention (used by most large-scale image/text
training pipelines) stores samples as consecutive files inside plain POSIX
tar shards: ``{key}.{ext}`` members, where every file sharing a basename
``key`` belongs to one sample (e.g. ``000017.jpg`` + ``000017.cls``).
Shards — not samples — are the unit of parallelism: a reader streams one
tar sequentially, which turns object-storage access into large contiguous
reads.

This module maps that layout onto Spark:

- :func:`write_webdataset_shard` — stdlib ``tarfile`` writer (fixtures,
  re-sharding, export).
- :func:`read_webdataset` — shard list → ``(shard, key, ext, data)``
  DataFrame. One input partition per shard (``repartition(n, "path")``),
  members streamed through ``mapInPandas`` in bounded Arrow batches, so
  executor memory is bounded by batch size × member size, never shard
  size. At 100 TB this is exactly the WebDataset execution model: 1000s
  of shards fan out across executors, each read once, sequentially.
- :func:`group_samples` — rows → one row per sample with an
  ``ext → bytes`` map column (``map_from_entries(collect_list(...))``,
  a single shuffle on the sample key; in practice members of a sample
  are adjacent in the shard so the map-side combine is near-perfect).

Decode plugs into the multimodal codec seams (operators/multimodal.py
DECODERS) — with the in-repo JPEG/PNG/BMP/WAV codecs the whole
shard → sample → decode → feature pipeline is real end-to-end.
"""

from __future__ import annotations

import io
import tarfile
from typing import Dict, Iterator, List, Tuple

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
)

from ..session import literal_relation


def write_webdataset_shard(
    path: str, samples: List[Tuple[str, Dict[str, bytes]]]
) -> None:
    """Write ``[(key, {ext: payload})]`` as a WebDataset tar shard; members
    of one sample are stored consecutively (the convention readers rely on
    for sequential-locality)."""
    with tarfile.open(path, "w") as tar:
        for key, parts in samples:
            for ext, payload in parts.items():
                info = tarfile.TarInfo(name=f"{key}.{ext}")
                info.size = len(payload)
                info.mtime = 0  # deterministic shards
                tar.addfile(info, io.BytesIO(payload))


_ROW_SCHEMA = StructType(
    [
        StructField("shard", StringType()),
        StructField("key", StringType()),
        StructField("ext", StringType()),
        StructField("data", BinaryType()),
    ]
)


def read_webdataset(
    spark: SparkSession, shard_paths: List[str], batch_rows: int = 256
) -> DataFrame:
    """Tar shards → (shard, key, ext, data) rows, one partition per shard."""
    if not shard_paths:
        return literal_relation(spark, [], _ROW_SCHEMA)
    # createDataFrame over a parallelized list, not literal_relation: exactly
    # one shard per partition (hash-repartition on path could map two shards
    # to one slot and leave others empty); numSlices == n gives the 1:1
    # assignment WebDataset readers want
    paths = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(p,) for p in shard_paths], len(shard_paths)
        ),
        StructType([StructField("path", StringType())]),
    )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .rangeio import RangeFile, is_remote, open_range

        def open_shard(shard: str) -> tarfile.TarFile:
            if is_remote(shard):
                # stream mode ("r|"): strictly sequential reads, which the
                # RangeFile turns into a few large contiguous ranged GETs —
                # the object-storage access pattern WebDataset is designed
                # for (shards ARE the unit of sequential IO)
                fo = RangeFile(open_range(shard), block_size=4 << 20, max_blocks=4)
                return tarfile.open(fileobj=fo, mode="r|")
            return tarfile.open(shard, "r")

        for pdf in batches:
            for shard in pdf["path"]:
                rows: list = []
                with open_shard(shard) as tar:
                    for member in tar:
                        if not member.isfile():
                            continue
                        name = member.name
                        stem, _, ext = name.rpartition(".")
                        if not stem:  # extension-less member: whole name is key
                            stem, ext = name, ""
                        payload = tar.extractfile(member).read()
                        rows.append((shard, stem, ext, payload))
                        if len(rows) >= batch_rows:
                            yield pd.DataFrame(
                                rows, columns=["shard", "key", "ext", "data"]
                            )
                            rows = []
                if rows:
                    yield pd.DataFrame(rows, columns=["shard", "key", "ext", "data"])

    return paths.mapInPandas(scan, _ROW_SCHEMA)


def group_samples(rows: DataFrame) -> DataFrame:
    """(shard, key, ext, data) rows → one row per sample:
    (shard, key, parts MAP<ext, data>)."""
    return rows.groupBy("shard", "key").agg(
        F.map_from_entries(F.collect_list(F.struct("ext", "data"))).alias("parts")
    )


def export_webdataset(
    df: DataFrame, path: str, key_col: str = "key", parts_col: str = "parts"
) -> List[str]:
    """Distributed WebDataset export: each partition writes ONE tar shard
    from the executor (TaskContext partition id names the shard, so output
    is deterministic for a fixed partitioning and a re-run overwrites the
    same shard files instead of duplicating). Rows are ``(key,
    map<ext, binary>)`` — the inverse of :func:`group_samples`; members of
    a sample are stored consecutively in key order (the convention
    sequential readers rely on).

    At 100 TB this is the standard corpus-export shape: repartition to the
    desired shard count/size, then every shard streams straight from one
    executor to storage; the driver returns only the shard manifest."""
    import os

    from pyspark import TaskContext

    os.makedirs(path, exist_ok=True)

    def write_shard(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True).sort_values(key_col)
        pid = TaskContext.get().partitionId()
        fname = f"shard-{pid:05d}.tar"
        samples = [
            (str(k), {str(ext): bytes(payload) for ext, payload in parts.items()})
            for k, parts in zip(pdf[key_col], pdf[parts_col])
        ]
        write_webdataset_shard(os.path.join(path, fname), samples)
        yield pd.DataFrame({"shard": [fname], "n_samples": [len(samples)]})

    from pyspark.sql.types import LongType

    out_schema = StructType(
        [StructField("shard", StringType()), StructField("n_samples", LongType())]
    )
    rows = df.mapInPandas(write_shard, out_schema).collect()
    return sorted(r.shard for r in rows)
