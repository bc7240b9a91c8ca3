"""WARC source — CommonCrawl-style web-archive ingestion (SURVEY.md
§2.1 extension; the reference's closest row is the CSV source S1,
`bubbles/backends/text/objects.py`, but WARC is what a pre-training
corpus actually arrives as).

Execution model at 100 TB: WARC files are read WHOLE, one task per
file, via Spark's ``binaryFile`` source — a CommonCrawl segment is
~1 GB of per-record-gzipped members, which is NOT block-splittable
(each record is its own gzip member, but the offsets index lives in
a separate .idx sidecar we don't require).  One-file-per-task is the
standard Spark/warcio deployment shape; parallelism comes from the
file count (a CC crawl is ~64k files), not intra-file splits.  The
parse itself is an Arrow-batched ``mapInPandas`` that yields one
BOUNDED pandas batch per file, so a 1 GB archive never materializes
more than one file's records in Python memory at a time.  Downstream
ops should ``repartition`` if record-level parallelism is needed.

Payloads stay ``binary`` end-to-end (the multimodal rule from
ops/multimodal.py): no charset guessing in the source; decode at the
point of use (``F.decode`` / html_to_text after a try_cast).
"""

from __future__ import annotations

import gzip
import io as _io
from typing import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

WARC_SCHEMA = StructType(
    [
        StructField("file", StringType()),
        StructField("record_id", StringType()),
        StructField("warc_type", StringType()),
        StructField("target_uri", StringType()),
        StructField("warc_date", StringType()),
        StructField("content_type", StringType()),
        StructField("content_length", LongType()),
        StructField("http_status", IntegerType()),
        StructField("http_content_type", StringType()),
        StructField("payload", BinaryType()),
    ]
)


_READ_CHUNK = 1 << 20  # decompressed-read granularity (1 MiB)
_ANCHOR = b"\r\n\r\nWARC/"  # record-boundary anchor for split alignment


def parse_warc_range(
    fh, pos: int = 0, start: int = 0, end: int | None = None
) -> Iterator[dict]:
    """Yield one dict per WARC record from a FILE-LIKE byte stream,
    holding only the in-flight record (plus ≤1 read chunk) in memory —
    a ~1 GB CommonCrawl gzip (~4–5 GB decompressed) never
    materializes; peak Python memory is the largest single record.

    Range semantics (the splittable path): ``pos`` is the absolute
    file offset ``fh`` is currently positioned at; only records whose
    header starts at an absolute offset in ``[start, end)`` are
    yielded (``end=None`` = to EOF).  When ``pos < start`` the scanner
    first aligns to the ``\\r\\n\\r\\nWARC/`` record boundary — seek
    the caller to ``start - 4`` so a record starting exactly at
    ``start`` keeps its separator visible.  A record that STARTS
    before ``end`` is read to completion even when its body crosses
    ``end`` (the next split skips it — same contract as Hadoop text
    splits).  Caveat, documented: a payload that embeds the anchor
    byte sequence can fake a boundary; splits then drop the remainder
    of that archive's range (the scanner validates the header shape
    and stops on mismatch rather than yielding garbage).  Archives
    needing byte-perfect recovery use the task-per-file path.

    Tolerant scanner: a malformed record header (or a truncated tail,
    routine in web archives) stops the scan of THAT stream rather
    than raising — losing the tail beats failing the task (count
    surviving records to audit)."""
    buf = bytearray()
    base = pos  # absolute file offset of buf[0]

    def fill() -> bool:
        chunk = fh.read(_READ_CHUNK)
        if not chunk:
            return False
        buf.extend(chunk)
        return True

    def compact(n: int) -> None:
        nonlocal base
        if n:
            del buf[:n]
            base += n

    if base < start:
        # align: find the first record boundary at/after `start`
        while True:
            idx = buf.find(_ANCHOR)
            if idx >= 0:
                rec_start = base + idx + 4
                compact(idx + 4)
                if rec_start < start:
                    continue
                if end is not None and rec_start >= end:
                    return
                break
            if len(buf) >= len(_ANCHOR):
                compact(len(buf) - len(_ANCHOR) + 1)
            if end is not None and base >= end:
                return
            if not fill():
                return

    while True:
        # records are separated by \r\n\r\n; skip any blank run
        i = 0
        while True:
            while i < len(buf) and buf[i] in (0x0D, 0x0A):
                i += 1
            if i < len(buf):
                break
            compact(len(buf))
            i = 0
            if not fill():
                return
        compact(i)
        if end is not None and base >= end:
            return  # next record belongs to the following split
        while True:
            head_end = buf.find(b"\r\n\r\n")
            if head_end >= 0:
                break
            if not fill():
                return
        head = bytes(buf[:head_end]).decode("utf-8", "replace")
        lines = head.split("\r\n")
        if not lines[0].startswith("WARC/"):
            return
        headers: dict[str, str] = {}
        for ln in lines[1:]:
            key, _, val = ln.partition(":")
            headers[key.strip().lower()] = val.strip()
        try:
            clen = int(headers.get("content-length", "0"))
        except ValueError:
            return
        need = head_end + 4 + clen
        truncated = False
        while len(buf) < need:
            if not fill():
                truncated = True
                break
        body = bytes(buf[head_end + 4 : need])
        compact(min(need, len(buf)))
        yield {"headers": headers, "body": body}
        if truncated:
            return


def parse_warc_stream(fh) -> Iterator[dict]:
    """Yield one dict per WARC record from a file-like byte stream —
    the whole-stream form of ``parse_warc_range``."""
    return parse_warc_range(fh, pos=0, start=0, end=None)


def parse_warc_bytes(data: bytes) -> Iterator[dict]:
    """Yield one dict per WARC record from raw (already decompressed)
    WARC bytes — the in-memory convenience wrapper over
    ``parse_warc_stream``."""
    return parse_warc_stream(_io.BytesIO(data))


def split_http_payload(body: bytes) -> tuple[int | None, str | None, bytes]:
    """Split an HTTP response payload into (status, content-type,
    body).  Non-HTTP payloads come back as (None, None, body)."""
    if not body.startswith(b"HTTP/"):
        return None, None, body
    sep = body.find(b"\r\n\r\n")
    if sep < 0:
        return None, None, body
    head = body[:sep].decode("utf-8", "replace")
    lines = head.split("\r\n")
    status: int | None = None
    parts = lines[0].split(None, 2)
    if len(parts) >= 2 and parts[1].isdigit():
        status = int(parts[1])
    ctype: str | None = None
    for ln in lines[1:]:
        key, _, val = ln.partition(":")
        if key.strip().lower() == "content-type":
            ctype = val.strip()
            break
    return status, ctype, body[sep + 4 :]


def _open_warc_stream(data: bytes):
    """File-like view over raw-or-gzipped archive bytes.  Gzip is
    decompressed INCREMENTALLY as the parser reads (GzipFile iterates
    CC's concatenated per-record members transparently) — the full
    decompressed archive never exists as one object."""
    if data[:2] != b"\x1f\x8b":
        return _io.BytesIO(data)
    return gzip.GzipFile(fileobj=_io.BytesIO(data))


def read_warc(
    spark: SparkSession,
    path: str,
    record_types: Sequence[str] = ("response",),
    http_parse: bool = True,
    path_glob: str | None = None,
    batch_records: int = 2000,
    batch_bytes: int = 64 * 1024 * 1024,
) -> DataFrame:
    """Read WARC archives under ``path`` into a typed DataFrame (one
    row per record), keeping only ``record_types`` (empty/None =
    all).  ``http_parse`` splits HTTP response payloads into
    (http_status, http_content_type, body) so the downstream
    text-extraction stage gets the raw HTML, not the wire bytes.

    Plan: binaryFile scan (one task per archive — gzip members are
    not splittable) → mapInPandas parse → record-type filter applied
    INSIDE the parser so non-matching records never cross into Arrow.
    Memory bound per Python worker: the COMPRESSED archive (binaryFile
    row) + one decompression chunk + one output batch — gzip is
    decompressed member-at-a-time as the record scanner consumes it,
    and output batches flush at ``batch_records`` rows or
    ``batch_bytes`` of payload, whichever first, so a ~1 GB archive
    (~4–5 GB decompressed) never materializes in Python.  Follow with
    ``html_to_text`` (ops/textprep.py) for the WET step.
    """
    keep = {t.lower() for t in record_types} if record_types else None

    def parse(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = [f.name for f in WARC_SCHEMA.fields]
        out: list[dict] = []
        out_bytes = 0
        for pdf in batches:
            for _, row in pdf.iterrows():
                fh = _open_warc_stream(bytes(row["content"]))
                for rec_row in _record_rows(
                    parse_warc_stream(fh), row["path"], keep, http_parse
                ):
                    out.append(rec_row)
                    out_bytes += len(rec_row["payload"])
                    if len(out) >= batch_records or out_bytes >= batch_bytes:
                        yield pd.DataFrame(out, columns=cols)
                        out, out_bytes = [], 0
        if out:
            yield pd.DataFrame(out, columns=cols)

    reader = spark.read.format("binaryFile")
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    files = reader.load(path).select("path", "content")
    return files.mapInPandas(parse, WARC_SCHEMA)


def _record_rows(records, file_path, keep, http_parse):
    """Parsed records → output-row dicts (shared by the task-per-file
    and splittable paths)."""
    for rec in records:
        h = rec["headers"]
        wtype = h.get("warc-type", "")
        if keep is not None and wtype.lower() not in keep:
            continue
        status, ctype_http, body = (
            split_http_payload(rec["body"])
            if http_parse
            else (None, None, rec["body"])
        )
        yield {
            "file": file_path,
            "record_id": h.get("warc-record-id"),
            "warc_type": wtype,
            "target_uri": h.get("warc-target-uri"),
            "warc_date": h.get("warc-date"),
            "content_type": h.get("content-type"),
            "content_length": len(rec["body"]),
            "http_status": status,
            "http_content_type": ctype_http,
            "payload": body,
        }


def _arrow_uri(path: str) -> str:
    """Map Hadoop-only scheme names onto the pyarrow spelling for the
    same store: ``s3a://`` / ``s3n://`` → ``s3://``.  Everything else
    passes through."""
    if path.startswith(("s3a://", "s3n://")):
        return "s3://" + path.split("://", 1)[1]
    return path


def _open_input_at(path: str, offset: int):
    """Open ``path`` (local path, file:, or any pyarrow-supported
    scheme: hdfs://, s3://) positioned at ``offset``.  Hadoop's
    ``s3a://``/``s3n://`` scheme names address the same object store
    as pyarrow's ``s3://`` but are alien to ``FileSystem.from_uri``
    (ArrowInvalid) — and s3a is exactly what Hadoop listing hands the
    executors — so they are translated before dispatch."""
    import pyarrow.fs as pafs

    if path.startswith("file:"):
        local = path[5:]
        if local.startswith("//"):
            local = local[2:] or "/"
        fs, rel = pafs.LocalFileSystem(), local
    elif "://" in path:
        fs, rel = pafs.FileSystem.from_uri(_arrow_uri(path))
    else:
        fs, rel = pafs.LocalFileSystem(), path
    fh = fs.open_input_file(rel)
    if offset:
        fh.seek(offset)
    return fh


def _hadoop_list_files(spark, path: str, path_glob: str | None = None):
    """RECURSIVELY list the data files under ``path`` via the Hadoop
    FileSystem API — any scheme the session can read (file:, hdfs://,
    s3a://).  Returns sorted ``(path, size)`` pairs.  Skips hidden
    entries (any path segment below ``path`` starting with ``.`` or
    ``_`` — Hadoop/Spark markers: ``_SUCCESS``, ``_temporary``,
    ``.crc``), exactly like Spark's own file readers, and skips empty
    files.  ``path_glob`` filters on basename.  Missing path → empty
    list.  Recursion matters: a ``partitionBy`` layout keeps every
    data file under ``key=value/`` subdirectories, which a
    direct-children listing reports as zero files."""
    import fnmatch

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    base = fs.getFileStatus(hpath).getPath().toString().rstrip("/")
    base_depth = base.count("/")
    out = []
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        segs = p.split("/")[base_depth + 1 :]  # components below base
        if any(s.startswith((".", "_")) for s in segs):
            continue
        name = segs[-1] if segs else st.getPath().getName()
        if path_glob and not fnmatch.fnmatch(name, path_glob):
            continue
        if st.getLen() == 0:
            continue
        out.append((p, st.getLen()))
    return sorted(out)


def read_warc_splittable(
    spark: SparkSession,
    path: str,
    path_glob: str | None = None,
    split_bytes: int = 128 * 1024 * 1024,
    record_types: Sequence[str] = ("response",),
    http_parse: bool = True,
    batch_records: int = 2000,
    batch_bytes: int = 64 * 1024 * 1024,
) -> DataFrame:
    """``read_warc`` with INTRA-FILE parallelism for uncompressed
    ``.warc`` archives: one giant plain archive no longer serializes
    into a single task.

    Plan: the driver lists files (Hadoop FileSystem metadata — works
    on any scheme) and fabricates byte-range splits of
    ``split_bytes``; each task opens its file directly (pyarrow
    filesystem), seeks to its range, aligns forward to the next
    ``\\r\\n\\r\\nWARC/`` record boundary, and parses exactly the
    records that START inside its range (``parse_warc_range``) — the
    Hadoop-text-split contract, so every record lands in exactly one
    task.  Gzip members are not seekable, so ``*.gz`` files fall back
    to one whole-file split each (identical to ``read_warc``);
    parallelism for gzip remains the file count, the industry shape
    for CommonCrawl.  Peak task memory: one read chunk + the largest
    record + one bounded output batch."""
    splits: list[tuple[str, int, int]] = []
    for p, size in _hadoop_list_files(spark, path, path_glob):
        if p.endswith(".gz"):
            splits.append((p, 0, size))  # gzip: whole-file task
        else:
            s = 0
            while s < size:
                splits.append((p, s, min(s + split_bytes, size)))
                s += split_bytes
    if not splits:
        return spark.createDataFrame([], WARC_SCHEMA)
    keep = {t.lower() for t in record_types} if record_types else None

    def parse(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = [f.name for f in WARC_SCHEMA.fields]
        out: list[dict] = []
        out_bytes = 0
        for pdf in batches:
            for _, row in pdf.iterrows():
                p = row["path"]
                s, e = int(row["start"]), int(row["end"])
                if p.endswith(".gz"):
                    fh = _open_input_at(p, 0)
                    records = parse_warc_stream(
                        gzip.GzipFile(fileobj=fh)
                    )
                else:
                    pos = max(0, s - len(_ANCHOR))
                    records = parse_warc_range(
                        _open_input_at(p, pos), pos, s, e
                    )
                for rec_row in _record_rows(records, p, keep, http_parse):
                    out.append(rec_row)
                    out_bytes += len(rec_row["payload"])
                    if len(out) >= batch_records or out_bytes >= batch_bytes:
                        yield pd.DataFrame(out, columns=cols)
                        out, out_bytes = [], 0
        if out:
            yield pd.DataFrame(out, columns=cols)

    sdf = spark.createDataFrame(
        splits, "path string, start long, end long"
    ).repartition(len(splits))
    return sdf.mapInPandas(parse, WARC_SCHEMA)


def warc_to_documents(
    df: DataFrame,
    min_status: int = 200,
    max_status: int = 299,
    content_type_like: str = "text/html%",
) -> DataFrame:
    """WARC records → (doc_id, url, date, text) document table: keep
    2xx HTML responses, UTF-8-decode the payload (lossy decode — a
    charset sniffer is a policy choice, not a source concern), and
    run ``html_to_text``.  Map-only end-to-end; ``doc_id`` is the
    WARC record id (globally unique by spec)."""
    from bubbles_spark.ops.textprep import html_to_text

    kept = df.filter(
        F.col("http_status").between(min_status, max_status)
        & F.col("http_content_type").like(content_type_like)
    ).select(
        F.col("record_id").alias("doc_id"),
        F.col("target_uri").alias("url"),
        F.col("warc_date").alias("date"),
        F.decode(F.col("payload"), "UTF-8").alias("text"),
    )
    return html_to_text(kept)
