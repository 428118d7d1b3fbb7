"""Sitemap source (sitemaps.org XML protocol, public spec).

Where crawl URLs come from: a <sitemapindex> names shard sitemaps, each
a <urlset> of up to 50k <url> entries (loc / lastmod / changefreq /
priority). The 50k-URL / 50 MB protocol cap makes the FILE the natural
split unit, so the distributed read is one task per shard with no
further range logic — and the index's own per-shard <lastmod> enables
shard-level pruning: an incremental crawl skips every sitemap whose
index entry predates the watermark before any task launches (the same
job-less skip the protocol was designed for).

Writer mirrors sources/warc.py's distributed shard sink: hash-
repartition + sortWithinPartitions for deterministic shard membership
and order, temp-name + os.replace() idempotence under task retries, and
a driver-side index commit whose only collect is shard METADATA (path +
max lastmod + count — num_shards rows, never data).

Reference parity note: format envelope around a record stream, the
dataprovider pattern of
/root/reference/src/main/java/de/soderer/dbimport/dataprovider/
DataProvider.java:166-197; sitemaps themselves are beyond-reference
scale-pipeline scope from the builder's brief.
"""

from __future__ import annotations

import os
import xml.etree.ElementTree as ET

_XMLNS = "http://www.sitemaps.org/schemas/sitemap/0.9"

READ_SCHEMA = (
    "sitemap_file string, loc string, lastmod string, "
    "changefreq string, priority string"
)


def _local(tag: str) -> str:
    """Tag name with any {namespace} prefix stripped — real sitemaps mix
    the canonical namespace, no namespace, and vendor prefixes."""
    return tag.rsplit("}", 1)[-1].lower()


def parse_urlset(blob: bytes) -> list[tuple[str, str | None, str | None, str | None]]:
    """One <urlset> document -> [(loc, lastmod, changefreq, priority)].
    Entries without <loc> are skipped (spec: loc is required)."""
    root = ET.fromstring(blob)
    out = []
    for el in root:
        if _local(el.tag) != "url":
            continue
        fields: dict[str, str] = {}
        for ch in el:
            name = _local(ch.tag)
            if name in ("loc", "lastmod", "changefreq", "priority"):
                fields[name] = (ch.text or "").strip()
        if fields.get("loc"):
            out.append(
                (
                    fields["loc"],
                    fields.get("lastmod"),
                    fields.get("changefreq"),
                    fields.get("priority"),
                )
            )
    return out


def parse_sitemap_index(blob: bytes) -> list[tuple[str, str | None]]:
    """<sitemapindex> -> [(loc, lastmod), ...]."""
    root = ET.fromstring(blob)
    out = []
    for el in root:
        if _local(el.tag) != "sitemap":
            continue
        loc, lastmod = None, None
        for ch in el:
            if _local(ch.tag) == "loc":
                loc = (ch.text or "").strip()
            elif _local(ch.tag) == "lastmod":
                lastmod = (ch.text or "").strip()
        if loc:
            out.append((loc, lastmod))
    return out


def _urlset_xml(entries) -> bytes:
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>\n',
        f'<urlset xmlns="{_XMLNS}">\n',
    ]
    for loc, lastmod, changefreq, priority in entries:
        parts.append("  <url>\n")
        parts.append(f"    <loc>{loc}</loc>\n")
        if lastmod is not None:
            parts.append(f"    <lastmod>{lastmod}</lastmod>\n")
        if changefreq is not None:
            parts.append(f"    <changefreq>{changefreq}</changefreq>\n")
        if priority is not None:
            parts.append(f"    <priority>{priority}</priority>\n")
        parts.append("  </url>\n")
    parts.append("</urlset>\n")
    return "".join(parts).encode("utf-8")


def write_sitemap_shards(
    df,
    out_dir: str,
    build_entry,
    num_shards: int,
    key_col: str,
) -> str:
    """Distributed sitemap sink. ``build_entry(row) -> (loc, lastmod,
    changefreq, priority)`` runs executor-side (lastmod as W3C datetime
    string or None). Each task writes one ``sitemap-<pid>.xml`` shard;
    the driver then commits ``sitemap-index.xml`` from the returned
    shard metadata (path, max lastmod). Returns the index path."""
    import glob as _glob

    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)
    for stale in _glob.glob(os.path.join(out_dir, "sitemap-*.xml*")):
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
        entries = [build_entry(r) for r in rows]
        path = os.path.join(out_dir, f"sitemap-{pid:05d}.xml")
        if entries:
            # unique per attempt — see sources/warc.py write_warc_shards
            tmp = f"{path}.inprogress.{os.getpid()}.{uuid.uuid4().hex[:8]}"
            with open(tmp, "wb") as fh:
                fh.write(_urlset_xml(entries))
            os.replace(tmp, path)
        lastmods = [e[1] for e in entries if e[1]]
        yield pd.DataFrame(
            {
                "path": [path],
                "n": [len(entries)],
                "maxmod": [max(lastmods) if lastmods else None],
            }
        )

    meta = part.mapInPandas(kernel, "path string, n long, maxmod string").collect()
    shards = sorted(
        (r["path"], r["maxmod"]) for r in meta if r["n"] > 0
    )
    idx = [
        '<?xml version="1.0" encoding="UTF-8"?>\n',
        f'<sitemapindex xmlns="{_XMLNS}">\n',
    ]
    for path, maxmod in shards:
        idx.append("  <sitemap>\n")
        idx.append(f"    <loc>file://{path}</loc>\n")
        if maxmod:
            idx.append(f"    <lastmod>{maxmod}</lastmod>\n")
        idx.append("  </sitemap>\n")
    idx.append("</sitemapindex>\n")
    index_path = os.path.join(out_dir, "sitemap-index.xml")
    tmp = f"{index_path}.inprogress.{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write("".join(idx))
    os.replace(tmp, index_path)
    return index_path


def read_sitemaps(spark, index_path: str, min_lastmod: str | None = None):
    """Distributed sitemap read: parse the (small) index driver-side,
    prune whole shards whose index <lastmod> predates ``min_lastmod``
    (W3C datetime strings compare lexicographically, which is exactly
    why the protocol mandates that format), then one task per surviving
    shard parses its <urlset>. Entry-level lastmod filtering stays with
    the caller — shard pruning is the job-less part."""
    import pandas as pd

    from dbimport_spark.frames import local_frame

    with open(index_path, "rb") as fh:
        entries = parse_sitemap_index(fh.read())
    keep = [
        loc[len("file://"):] if loc.startswith("file://") else loc
        for loc, lastmod in entries
        if min_lastmod is None or lastmod is None or lastmod >= min_lastmod
    ]
    if not keep:
        return local_frame(spark, [], READ_SCHEMA)
    files = local_frame(
        spark, [(p,) for p in keep], "path string"
    ).repartition(len(keep))

    def kernel(batches):
        for pdf in batches:
            rows = []
            for path in pdf["path"]:
                with open(path, "rb") as fh:
                    blob = fh.read()
                base = os.path.basename(path)
                rows.extend(
                    (base, loc, lastmod, changefreq, priority)
                    for loc, lastmod, changefreq, priority in parse_urlset(blob)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "sitemap_file",
                    "loc",
                    "lastmod",
                    "changefreq",
                    "priority",
                ],
            )

    return files.mapInPandas(kernel, READ_SCHEMA)
