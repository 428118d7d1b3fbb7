"""WARC / WET web-archive source — the entry format of crawl-scale text
pipelines (CommonCrawl ships WARC for raw HTTP capture and WET for
extracted text).

Format (public spec: ISO 28500 / WARC 1.1; the WET layout is the
CommonCrawl "conversion"-record convention):

    WARC/1.1\r\n
    WARC-Type: response\r\n
    WARC-Target-URI: https://example.org/x\r\n
    WARC-Date: 2026-01-01T00:00:00Z\r\n
    Content-Length: <n>\r\n
    ...\r\n
    \r\n
    <n payload bytes>\r\n\r\n

A ``.warc.gz`` is a CONCATENATION OF GZIP MEMBERS, one record per member
(the spec's record-at-time compression). That layout is what makes the
format splittable at 100 TB: any byte offset that starts a gzip member
starts a record, so a task can own an arbitrary [offset, length) member
range of a shard without reading the rest. This reader follows the
CommonCrawl access pattern: a driver-side METADATA index (member offsets
— the cdx analogue; KBs per GB shard) is chunked into ranges, one Spark
task per range, each task seeking into its range only.

Reference parity note: the transparent decompression envelope around a
record stream mirrors the reference's provider pattern
(/root/reference/src/main/java/de/soderer/dbimport/dataprovider/
DataProvider.java:166-197); the member-range splitting is the
Spark-native scale form (the reference streams single-threaded).

Everything is stdlib (gzip/zlib/email-free hand parsing); no external
WARC library exists in this container and none is needed.
"""

from __future__ import annotations

import gzip
import io
import os
import zlib

_GZ_MAGIC = b"\x1f\x8b"


class WarcError(ValueError):
    """Malformed WARC record or archive."""


# ------------------------------------------------------------------ parse


def parse_warc_records(blob: bytes):
    """Yield (headers: dict[str,str], payload: bytes) for each record in
    an UNCOMPRESSED concatenation of WARC records. Header names are
    lower-cased (the spec says they are case-insensitive); values keep
    their bytes decoded as UTF-8 (the spec's header charset)."""
    pos = 0
    n = len(blob)
    while pos < n:
        # tolerate inter-record CRLF padding
        while pos < n and blob[pos : pos + 2] in (b"\r\n",) and blob[pos] in b"\r\n":
            pos += 2
        if pos >= n:
            return
        if not blob.startswith(b"WARC/", pos):
            raise WarcError(
                f"expected WARC/ version line at offset {pos}, got "
                f"{blob[pos : pos + 16]!r}"
            )
        hdr_end = blob.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            raise WarcError(f"unterminated WARC header block at offset {pos}")
        lines = blob[pos:hdr_end].split(b"\r\n")
        headers: dict[str, str] = {}
        for raw in lines[1:]:
            if raw[:1] in (b" ", b"\t"):  # spec: LWS continuation
                if headers:
                    headers[last] += " " + raw.strip().decode("utf-8")  # noqa: F821
                continue
            k, _, v = raw.partition(b":")
            last = k.strip().decode("utf-8").lower()
            headers[last] = v.strip().decode("utf-8")
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            raise WarcError(f"record at offset {pos} lacks a valid Content-Length")
        body_start = hdr_end + 4
        payload = blob[body_start : body_start + clen]
        if len(payload) != clen:
            raise WarcError(
                f"truncated record at offset {pos}: Content-Length {clen}, "
                f"got {len(payload)} bytes"
            )
        yield headers, payload
        pos = body_start + clen
        if blob[pos : pos + 4] == b"\r\n\r\n":  # spec: two CRLFs close a record
            pos += 4


def http_response_body(payload: bytes) -> tuple[str, dict[str, str], bytes]:
    """Split an HTTP response capture (a ``response`` record's payload)
    into (status line, lower-cased headers, body bytes)."""
    sep = payload.find(b"\r\n\r\n")
    if sep < 0 or not payload.startswith(b"HTTP/"):
        raise WarcError("payload is not an HTTP response capture")
    lines = payload[:sep].split(b"\r\n")
    status = lines[0].decode("latin-1")
    headers: dict[str, str] = {}
    for raw in lines[1:]:
        k, _, v = raw.partition(b":")
        headers[k.strip().decode("latin-1").lower()] = v.strip().decode("latin-1")
    return status, headers, payload[sep + 4 :]


# ------------------------------------------------------------------ gzip members


def gzip_member_offsets(blob: bytes) -> list[tuple[int, int]]:
    """(offset, length) of every gzip member in a multi-member stream —
    the index a .warc.gz needs for range-splitting when no sidecar .idx
    was shipped. One sequential pass with zlib; used driver-side on
    fixture-scale archives, while real deployments read the sidecar."""
    out: list[tuple[int, int]] = []
    pos = 0
    n = len(blob)
    while pos < n:
        if blob[pos : pos + 2] != _GZ_MAGIC:
            raise WarcError(f"not a gzip member at offset {pos}")
        d = zlib.decompressobj(wbits=31)
        d.decompress(blob[pos:])
        consumed = n - pos - len(d.unused_data)
        out.append((pos, consumed))
        pos += consumed
    return out


def _decompress_members(chunk: bytes) -> bytes:
    """Decompress a run of complete gzip members (stdlib gzip handles
    member concatenation natively)."""
    return gzip.decompress(chunk)


# ------------------------------------------------------------------ write


def write_warc_gz(
    path: str, records: list[tuple[dict, bytes]], write_index: bool = True
) -> None:
    """Write records as a spec-shaped .warc.gz: one gzip member per
    record (mtime=0 → deterministic bytes), plus a sidecar ``<path>.idx``
    ("offset length" per line) — the cdx-style split index the
    distributed reader consumes. Caller supplies the WARC headers
    (warc-type, warc-target-uri, warc-date, …); content-length is
    computed here."""
    offsets: list[tuple[int, int]] = []
    with open(path, "wb") as fh:
        for headers, payload in records:
            lines = [b"WARC/1.1"]
            for k, v in headers.items():
                if k.lower() == "content-length":
                    continue
                canon = "-".join(p.capitalize() for p in k.split("-"))
                lines.append(f"{canon}: {v}".encode("utf-8"))
            lines.append(f"Content-Length: {len(payload)}".encode("ascii"))
            raw = b"\r\n".join(lines) + b"\r\n\r\n" + payload + b"\r\n\r\n"
            buf = io.BytesIO()
            # compresslevel pinned: deterministic bytes, and level 6 is
            # ~3x faster than GzipFile's default 9 on small text records
            with gzip.GzipFile(
                fileobj=buf, mode="wb", mtime=0, compresslevel=6
            ) as gz:
                gz.write(raw)
            member = buf.getvalue()
            offsets.append((fh.tell(), len(member)))
            fh.write(member)
    if write_index:
        with open(path + ".idx", "w", encoding="ascii") as ix:
            for off, ln in offsets:
                ix.write(f"{off} {ln}\n")


def http_response_record(
    url: str, date: str, body: bytes, content_type: str = "text/plain"
) -> tuple[dict, bytes]:
    """Build a ``response`` record capturing an HTTP/1.1 200 response."""
    http = (
        b"HTTP/1.1 200 OK\r\n"
        + f"Content-Type: {content_type}\r\n".encode("latin-1")
        + f"Content-Length: {len(body)}\r\n\r\n".encode("ascii")
        + body
    )
    # crc32, not hash(): Python string hashes are salted per process and
    # the export bytes must be run-deterministic
    headers = {
        "warc-type": "response",
        "warc-record-id": f"<urn:uuid:{zlib.crc32(url.encode()):08x}>",
        "warc-date": date,
        "warc-target-uri": url,
        "content-type": "application/http; msgtype=response",
    }
    return headers, http


def conversion_record(url: str, date: str, text: bytes) -> tuple[dict, bytes]:
    """Build a WET-style ``conversion`` record (extracted plain text)."""
    headers = {
        "warc-type": "conversion",
        "warc-record-id": f"<urn:uuid:{zlib.crc32(url.encode()):08x}>",
        "warc-date": date,
        "warc-target-uri": url,
        "content-type": "text/plain",
    }
    return headers, text


def write_warc_shards(
    df,
    out_dir: str,
    build_records,
    num_shards: int,
    key_col: str,
) -> list[str]:
    """Distributed WARC sink: each task packs its partition's rows into
    one ``part-<pid>.warc.gz`` shard (+ sidecar .idx), the layout
    CommonCrawl itself uses (a crawl IS a directory of ~1 GB shards).
    ``build_records(row) -> [(headers, payload), ...]`` runs executor-
    side. Shards are deterministic: hash-repartition on ``key_col`` +
    sortWithinPartitions pins both membership and order, and the gzip
    bytes are mtime-0/level-6. Tasks write to a temp name and
    os.replace() it — idempotent under retries. Returns the non-empty
    shard paths. At 100 TB this is pure map work; nothing shuffles but
    the one repartition the sharding itself asks for."""
    import glob as _glob2

    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)
    for stale in _glob2.glob(os.path.join(out_dir, "part-*.warc.gz*")):
        try:
            os.remove(stale)
        except FileNotFoundError:
            pass  # a concurrent cold export's sweep got there first
    part = df.repartition(num_shards, key_col).sortWithinPartitions(key_col)

    def kernel(batches):
        import uuid

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        rows = []
        for pdf in batches:
            rows.extend(pdf.itertuples(index=False))
        path = os.path.join(out_dir, f"part-{pid:05d}.warc.gz")
        records = []
        for r in rows:
            records.extend(build_records(r))
        if records:
            # tmp name unique PER ATTEMPT: a shared '.inprogress' name
            # collides when two attempts write concurrently (speculative
            # execution, or two cold sessions exporting the same fixture
            # after a simultaneous memo miss) — the loser's os.replace
            # then raises FileNotFoundError. Bytes are deterministic, so
            # whichever attempt commits last leaves identical content.
            tmp = f"{path}.inprogress.{os.getpid()}.{uuid.uuid4().hex[:8]}"
            write_warc_gz(tmp, records)
            os.replace(tmp, path)
            os.replace(tmp + ".idx", path + ".idx")
        yield pd.DataFrame({"path": [path], "n": [len(records)]})

    done = part.mapInPandas(kernel, "path string, n long").collect()
    return sorted(r["path"] for r in done if r["n"] > 0)


# ------------------------------------------------------------------ read


def _split_ranges(path: str, target_bytes: int) -> list[tuple[str, int, int]]:
    """(path, offset, length) ranges covering the archive: sidecar-index
    members grouped to ~target_bytes per task; index-less files fall back
    to one whole-file range (still correct — gzip.decompress handles the
    member run — just one task per shard, the CommonCrawl default)."""
    idx = path + ".idx"
    if not os.path.exists(idx):
        return [(path, 0, os.path.getsize(path))]
    ranges: list[tuple[str, int, int]] = []
    start = None
    acc = 0
    with open(idx, "r", encoding="ascii") as fh:
        for line in fh:
            off_s, len_s = line.split()
            off, ln = int(off_s), int(len_s)
            if start is None:
                start = off
            acc += ln
            if acc >= target_bytes:
                ranges.append((path, start, off + ln - start))
                start, acc = None, 0
    if start is not None:
        ranges.append((path, start, acc))
    return ranges


_READ_SCHEMA = (
    "warc_file string, warc_type string, url string, warc_date string, "
    "content_type string, payload binary"
)


def read_warc(
    spark,
    paths: list[str],
    record_types: tuple[str, ...] | None = None,
    target_bytes: int = 64 << 20,
):
    """Distributed WARC read → one row per record: (warc_file, warc_type,
    url, warc_date, content_type, payload). ``record_types`` filters
    server-side in the task (e.g. ``("response",)`` skips request /
    metadata records before anything is materialized). Parallelism =
    member ranges from the sidecar index (~target_bytes per task), so a
    1 GB shard with an index fans out instead of pinning one task."""
    import pandas as pd

    from dbimport_spark.frames import local_frame

    ranges: list[tuple[str, int, int]] = []
    for p in paths:
        ranges.extend(_split_ranges(p, target_bytes))
    if not ranges:
        raise WarcError("read_warc: no input ranges (empty path list?)")
    files = local_frame(
        spark, ranges, "path string, off long, len long"
    ).repartition(len(ranges))
    want = tuple(record_types) if record_types else None

    def kernel(batches):
        for pdf in batches:
            rows = []
            for path, off, ln in zip(pdf["path"], pdf["off"], pdf["len"]):
                with open(path, "rb") as fh:
                    fh.seek(int(off))
                    chunk = fh.read(int(ln))
                raw = (
                    _decompress_members(chunk)
                    if chunk[:2] == _GZ_MAGIC
                    else chunk
                )
                base = os.path.basename(path)
                for headers, payload in parse_warc_records(raw):
                    wtype = headers.get("warc-type", "")
                    if want and wtype not in want:
                        continue
                    rows.append(
                        (
                            base,
                            wtype,
                            headers.get("warc-target-uri"),
                            headers.get("warc-date"),
                            headers.get("content-type"),
                            payload,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "warc_file",
                    "warc_type",
                    "url",
                    "warc_date",
                    "content_type",
                    "payload",
                ],
            )

    return files.mapInPandas(kernel, _READ_SCHEMA)
