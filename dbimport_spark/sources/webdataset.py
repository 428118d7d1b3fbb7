"""WebDataset-style tar-shard source — multimodal training-data layout.

The WebDataset convention (public: github.com/webdataset/webdataset docs)
stores one SAMPLE as several adjacent files in a POSIX tar, sharing a
basename stem and differing in extension:

    000123.txt   000123.cls   000123.json   000124.txt ...

A corpus is a set of tar SHARDS; the shard is the unit of parallelism
and of shuffling. This reader follows that model: one Spark task per
shard (mapInPandas over a shard-path frame), stdlib ``tarfile`` member
walk, samples grouped by stem (the basename up to the FIRST dot — the
documented WebDataset rule, so ``x.seg.png`` has extension ``seg.png``),
one output row per sample with a binary column per requested extension.

Reference parity note: hudeany/dbimport imports archive members as
separate tables (ZipUtilities usage in DataProvider); grouping members
INTO rows is the training-data-specific layout, beyond-reference scope
from the builder's brief.
"""

from __future__ import annotations

import io
import os
import tarfile


class WebDatasetError(ValueError):
    """Malformed shard or sample layout."""


def iter_samples(tar_bytes: bytes, exts: list[str]):
    """Yield (key, {ext: bytes}) per sample in one shard, keys in shard
    order (first appearance). Members with extensions outside ``exts``
    are ignored (WebDataset readers select fields); a sample missing a
    requested extension yields None for it — the caller decides whether
    that's an error."""
    samples: dict[str, dict] = {}
    order: list[str] = []
    with tarfile.open(fileobj=io.BytesIO(tar_bytes)) as tf:
        for m in tf:
            if not m.isfile():
                continue
            base = os.path.basename(m.name)
            if "." not in base:
                raise WebDatasetError(
                    f"member {m.name!r} has no extension — not a "
                    "WebDataset sample member"
                )
            key, ext = base.split(".", 1)
            if ext not in exts:
                continue
            if key not in samples:
                samples[key] = {}
                order.append(key)
            if ext in samples[key]:
                raise WebDatasetError(
                    f"duplicate member {base!r} in shard (same key+ext twice)"
                )
            samples[key][ext] = tf.extractfile(m).read()
    for key in order:
        got = samples[key]
        yield key, {e: got.get(e) for e in exts}


def write_shard(path: str, samples: list[tuple[str, dict]]) -> None:
    """[(key, {ext: bytes})] → one tar shard with the WebDataset layout
    (sample members adjacent, deterministic order)."""
    with tarfile.open(path, "w") as tf:
        for key, fields in samples:
            for ext in sorted(fields):
                data = fields[ext]
                info = tarfile.TarInfo(name=f"{key}.{ext}")
                info.size = len(data)
                info.mtime = 0  # deterministic bytes
                tf.addfile(info, io.BytesIO(data))


def read_webdataset(spark, shard_paths: list[str], exts: list[str]):
    """Distributed read: (shard, key, one BINARY column per extension),
    one task per shard. Extensions become column names with ``.`` → ``_``
    (``seg.png`` → ``seg_png``)."""
    import pandas as pd

    from dbimport_spark.frames import local_frame

    cols = [e.replace(".", "_") for e in exts]
    schema = "shard string, key string, " + ", ".join(
        f"{c} binary" for c in cols
    )
    files = local_frame(
        spark, [(p,) for p in shard_paths], "path string"
    ).repartition(len(shard_paths))

    def kernel(batches):
        for pdf in batches:
            rows = []
            for path in pdf["path"]:
                with open(path, "rb") as fh:
                    blob = fh.read()
                for key, fields in iter_samples(blob, exts):
                    rows.append(
                        (os.path.basename(path), key)
                        + tuple(fields[e] for e in exts)
                    )
            yield pd.DataFrame(rows, columns=["shard", "key"] + cols)

    return files.mapInPandas(kernel, schema)
