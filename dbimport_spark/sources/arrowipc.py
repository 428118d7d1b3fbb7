"""Arrow IPC (Feather v2) source: distributed write + batch-range read.

The Arrow IPC file format (public spec, arrow.apache.org/docs/format)
is the lingua franca of the Python data stack (Feather v2, Polars,
DuckDB, Ray datasets all exchange it). Its file footer indexes every
record batch, which makes it RANGE-SPLITTABLE the same way the WARC
sidecar index makes .warc.gz splittable: the driver reads only footers
(metadata, no data pages) and fans out (file, batch-lo, batch-hi)
tasks sized to a byte target — a 10 GB shard with 10k batches becomes
~160 tasks, not one.

Writer mirrors the other shard sinks: hash-repartition +
sortWithinPartitions pins shard membership/order, bounded batch size
keeps batches splittable, temp-name + os.replace() keeps retries and
concurrent cold exports idempotent.

Reference parity note: format envelope around a record stream
(/root/reference/src/main/java/de/soderer/dbimport/dataprovider/
DataProvider.java:166-197); Arrow IPC itself is beyond-reference
scale-pipeline scope from the builder's brief.
"""

from __future__ import annotations

import os


def write_arrow_ipc_dir(
    df,
    out_dir: str,
    num_shards: int,
    key_col: str,
    batch_rows: int = 1024,
) -> list[str]:
    """Distributed Arrow IPC sink: one ``part-<pid>.arrow`` file per
    task, record batches capped at ``batch_rows`` so the files stay
    batch-range-splittable. Returns the non-empty shard paths."""
    import glob as _glob

    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)
    for stale in _glob.glob(os.path.join(out_dir, "part-*.arrow*")):
        try:
            os.remove(stale)
        except FileNotFoundError:
            pass  # concurrent cold export's sweep got there first
    part = df.repartition(num_shards, key_col).sortWithinPartitions(key_col)

    def kernel(batches):
        import uuid

        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        pdfs = list(batches)
        path = os.path.join(out_dir, f"part-{pid:05d}.arrow")
        n = 0
        if pdfs:
            table = pa.Table.from_pandas(
                pd.concat(pdfs, ignore_index=True), preserve_index=False
            )
            n = table.num_rows
            if n:
                # unique per attempt — see sources/warc.py write_warc_shards
                tmp = f"{path}.inprogress.{os.getpid()}.{uuid.uuid4().hex[:8]}"
                with pa.OSFile(tmp, "wb") as sink:
                    with pa.ipc.new_file(sink, table.schema) as wr:
                        for b in table.to_batches(max_chunksize=batch_rows):
                            wr.write_batch(b)
                os.replace(tmp, path)
        yield pd.DataFrame({"path": [path], "n": [n]})

    done = part.mapInPandas(kernel, "path string, n long").collect()
    return sorted(r["path"] for r in done if r["n"] > 0)


def _batch_ranges(paths: list[str], target_bytes: int) -> list[tuple[str, int, int]]:
    """(path, batch_lo, batch_hi) tasks of ~target_bytes each, computed
    from footers only — no data pages are read at planning time."""
    import pyarrow as pa

    ranges: list[tuple[str, int, int]] = []
    for p in paths:
        size = os.path.getsize(p)
        with pa.OSFile(p, "rb") as f:
            rd = pa.ipc.open_file(f)
            nb = rd.num_record_batches
        if nb == 0:
            continue
        per_batch = max(1, size // nb)
        step = max(1, int(target_bytes // per_batch))
        for lo in range(0, nb, step):
            ranges.append((p, lo, min(nb, lo + step)))
    return ranges


def read_arrow_ipc_dir(
    spark,
    path: str,
    schema: str,
    target_bytes: int = 64 << 20,
):
    """Distributed batch-range read: one task per ~target_bytes of
    record batches. Tasks memory-map the file and materialize ONLY
    their batch range — Arrow's footer offsets give random access, so
    a task never decodes bytes outside its slice."""
    import glob as _glob

    import pandas as pd

    from dbimport_spark.frames import local_frame

    paths = sorted(_glob.glob(os.path.join(path, "part-*.arrow")))
    ranges = _batch_ranges(paths, target_bytes)
    if not ranges:
        return local_frame(spark, [], schema)
    files = local_frame(
        spark, ranges, "path string, lo int, hi int"
    ).repartition(len(ranges))

    def kernel(batches):
        import pyarrow as pa

        for pdf in batches:
            for p, lo, hi in zip(pdf["path"], pdf["lo"], pdf["hi"]):
                with pa.memory_map(p, "rb") as mm:
                    rd = pa.ipc.open_file(mm)
                    tbl = pa.Table.from_batches(
                        [rd.get_batch(i) for i in range(int(lo), int(hi))]
                    )
                yield tbl.to_pandas()

    return files.mapInPandas(kernel, schema)
