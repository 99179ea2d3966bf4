"""WARC (Web ARChive, ISO 28500) source — the Common Crawl container,
i.e. THE on-disk format a 100 TB web-scale training corpus actually
arrives in.

Layout facts this module implements (all from the public spec and the
Common Crawl layout):

* a WARC file is a sequence of records: a ``WARC/1.0`` version line,
  CRLF-separated named headers (``WARC-Type``, ``WARC-Record-ID``,
  ``WARC-Target-URI``, ``WARC-Date``, ``Content-Length``, ...), a blank
  line, ``Content-Length`` bytes of payload, then exactly two CRLFs;
* files conventionally open with a ``warcinfo`` record describing the
  crawl; page captures are ``response`` records whose payload is the
  full HTTP response (status line + headers + body);
* ``.warc.gz`` files are a CONCATENATION of independent gzip members,
  one per record — that per-record framing is what makes the format
  splittable at scale (a reader can start at any member boundary).
  :func:`parse_warc` handles both the plain and the multi-member-gzip
  form transparently.

Distribution model: :func:`read_warc` lists the ``*.warc``/``*.warc.gz``
files and fans the PARSING out over executors with one task per file
(Spark's ``binaryFile`` source) — WARC files are written at a bounded
size (Common Crawl: ~1 GB) precisely so file-granular parallelism is
enough.  The parser itself is pure stdlib (zlib) and ships by value
with the module (cloudpickle), like the media codecs.

Reference parity note: the reference engine has no web-archive source —
this belongs to the "operations a large-scale training-data pipeline
needs" surface (ingest → extract → dedup → filter), feeding the dedup /
quality / decontamination operators in :mod:`..functions`.
"""

from __future__ import annotations

import gzip
import hashlib
import html
import zlib
from html.parser import HTMLParser
from typing import Iterator, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _register_by_value() -> None:
    """Ship THIS module by value into mapInPandas closures — executors
    do not have the package on their PYTHONPATH (the codecs.py
    pattern)."""
    try:
        import sys

        import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[__name__])
    except Exception:  # pragma: no cover - registration is best-effort
        pass

_CRLF = b"\r\n"


# ---------------------------------------------------------------------------
# writing (test/fixture side — a crawler stand-in)
# ---------------------------------------------------------------------------

def _warc_record(
    rec_type: str, headers: dict, payload: bytes
) -> bytes:
    head = [b"WARC/1.0"]
    base = {
        "WARC-Type": rec_type,
        "WARC-Record-ID": "<urn:uuid:"
        + hashlib.md5(payload + rec_type.encode()).hexdigest()
        + ">",
        "Content-Length": str(len(payload)),
    }
    base.update(headers)
    for k, v in base.items():
        head.append(f"{k}: {v}".encode())
    return _CRLF.join(head) + _CRLF * 2 + payload + _CRLF * 2


def write_warc(
    records: list,
    path: str,
    compress: bool = False,
    warcinfo: str = "software: fluxgraph-spark-warc/1.0",
) -> None:
    """Write ``records`` — dicts with ``url``, ``date`` (ISO-8601 string),
    ``payload`` (bytes, the HTTP response body), optional
    ``content_type`` — as a spec-shaped WARC file: a ``warcinfo``
    record, then one ``response`` record per page whose payload is a
    minimal ``HTTP/1.1 200 OK`` response.  ``compress=True`` writes one
    gzip member PER RECORD (the splittable ``.warc.gz`` layout)."""
    chunks = [
        _warc_record(
            "warcinfo",
            {"Content-Type": "application/warc-fields"},
            warcinfo.encode() + _CRLF,
        )
    ]
    for r in records:
        ctype = r.get("content_type", "text/html")
        http = (
            b"HTTP/1.1 200 OK" + _CRLF
            + f"Content-Type: {ctype}".encode() + _CRLF
            + f"Content-Length: {len(r['payload'])}".encode() + _CRLF
            + _CRLF
            + r["payload"]
        )
        chunks.append(
            _warc_record(
                "response",
                {
                    "WARC-Target-URI": r["url"],
                    "WARC-Date": r["date"],
                    "Content-Type": "application/http; msgtype=response",
                },
                http,
            )
        )
    with open(path, "wb") as f:
        for c in chunks:
            f.write(gzip.compress(c) if compress else c)


# ---------------------------------------------------------------------------
# parsing
# ---------------------------------------------------------------------------

def _split_gzip_members(data: bytes) -> Iterator[bytes]:
    """Decompress a concatenation of gzip members one member at a time
    (the ``.warc.gz`` framing).  zlib tells us where each member ended
    via ``unused_data``, so this needs no index."""
    mv = memoryview(data)  # zero-copy slices: a per-record-gzip file
    # has thousands of members, and bytes-slicing the remainder per
    # member would make the walk quadratic in file size
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(wbits=31)
        yield d.decompress(mv[pos:])
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:  # pragma: no cover - corrupt trailing bytes
            raise ValueError("corrupt gzip member in WARC")
        pos += consumed


def parse_warc(data: bytes) -> Iterator[tuple]:
    """WARC bytes (plain or multi-member gzip) -> iterator of
    ``(headers: dict, payload: bytes)`` per record.  Tolerates header
    case per the spec (names are case-insensitive; keys are returned
    Title-Cased as written)."""
    if data[:2] == b"\x1f\x8b":
        buf = b"".join(_split_gzip_members(data))
    else:
        buf = data
    pos = 0
    n = len(buf)
    while pos < n:
        # skip inter-record CRLFs
        while pos < n and buf[pos : pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            break
        head_end = buf.find(_CRLF * 2, pos)
        if head_end < 0:
            raise ValueError("WARC record missing header terminator")
        lines = buf[pos:head_end].split(_CRLF)
        if not lines[0].startswith(b"WARC/"):
            raise ValueError(f"not a WARC record at offset {pos}")
        headers: dict = {}
        for ln in lines[1:]:
            k, _, v = ln.partition(b":")
            headers[k.strip().decode("latin-1")] = v.strip().decode("latin-1")
        length_key = next(
            (k for k in headers if k.lower() == "content-length"), None
        )
        if length_key is None:
            raise ValueError("WARC record missing Content-Length")
        clen = int(headers[length_key])
        body_start = head_end + 4
        payload = buf[body_start : body_start + clen]
        if len(payload) != clen:
            raise ValueError("WARC record truncated")
        yield headers, payload
        pos = body_start + clen


def http_response_body(payload: bytes) -> bytes:
    """The body of an HTTP response payload (a ``response`` record's
    content): everything after the first blank line."""
    sep = payload.find(_CRLF * 2)
    return payload[sep + 4 :] if sep >= 0 else payload


class _TextExtractor(HTMLParser):
    _SKIP = {"script", "style", "noscript"}

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._skip_depth = 0
        self.parts: list = []

    def handle_starttag(self, tag, attrs):
        if tag in self._SKIP:
            self._skip_depth += 1

    def handle_endtag(self, tag):
        if tag in self._SKIP and self._skip_depth:
            self._skip_depth -= 1

    def handle_data(self, data):
        if not self._skip_depth:
            self.parts.append(data)


def html_to_text(html_src: str, collapse: bool = True) -> str:
    """Visible text of an HTML document: tags stripped, entities
    resolved, ``script``/``style`` contents dropped.  ``collapse=True``
    (the corpus-cleaning default) normalizes whitespace runs to single
    spaces; ``collapse=False`` preserves the text nodes verbatim (what
    the fixture round-trip oracles rely on)."""
    p = _TextExtractor()
    p.feed(html_src)
    p.close()
    text = "".join(p.parts)
    return " ".join(text.split()) if collapse else text


# ---------------------------------------------------------------------------
# the distributed reader
# ---------------------------------------------------------------------------

WARC_SCHEMA = T.StructType(
    [
        T.StructField("warc_file", T.StringType(), False),
        T.StructField("record_type", T.StringType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("warc_date", T.StringType(), True),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), False),
    ]
)


def read_warc(
    spark: SparkSession, path_glob: str, record_type: Optional[str] = "response"
) -> DataFrame:
    """Distributed WARC scan: one task per file (``binaryFile`` source),
    records parsed executor-side into :data:`WARC_SCHEMA` rows —
    ``payload`` is the record content (for ``response`` records, the
    full HTTP response; feed :func:`http_response_body` /
    :func:`html_to_text` downstream).  ``record_type`` filters server-
    side during the parse (None keeps every record incl. warcinfo).
    Common Crawl-sized inputs parallelize at file granularity — which
    is exactly why the format bounds file sizes."""
    files = spark.read.format("binaryFile").load(path_glob).select(
        "path", "content"
    )
    import pandas as pd

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            rows = {k.name: [] for k in WARC_SCHEMA.fields}
            for path, content in zip(pdf["path"], pdf["content"]):
                for headers, payload in parse_warc(bytes(content)):
                    h = {k.lower(): v for k, v in headers.items()}
                    rt = h.get("warc-type", "")
                    if record_type is not None and rt != record_type:
                        continue
                    rows["warc_file"].append(path)
                    rows["record_type"].append(rt)
                    rows["url"].append(h.get("warc-target-uri"))
                    rows["warc_date"].append(h.get("warc-date"))
                    rows["content_type"].append(h.get("content-type"))
                    rows["payload"].append(payload)
            yield pd.DataFrame(rows)

    return files.mapInPandas(batches, schema=WARC_SCHEMA)


def warc_files_from_documents(
    docs: DataFrame,
    out_dir: str,
    every: int = 17,
    per_file: int = 16,
    compress: bool = True,
) -> int:
    """Fixture builder: every ``every``-th document becomes a crawled
    page (deterministic URL ``https://corpus.example/doc/<id>``, date
    from the id, HTML body wrapping the text) packed ``per_file``
    records per ``.warc.gz``.  Returns the file count.  Driver-side by
    design — it stands in for the CRAWLER, not the reader; the reader
    path above is the distributed piece."""
    import os

    rows = (
        docs.where(F.col("doc_id") % every == 0)
        .select("doc_id", "text")
        .orderBy("doc_id")
        .collect()
    )
    os.makedirs(out_dir, exist_ok=True)
    n_files = 0
    for i in range(0, len(rows), per_file):
        recs = []
        for r in rows[i : i + per_file]:
            body = (
                "<html><head><title>doc %d</title></head><body><p>%s</p>"
                "</body></html>" % (r["doc_id"], html.escape(r["text"] or ""))
            )
            recs.append(
                {
                    "url": f"https://corpus.example/doc/{r['doc_id']}",
                    "date": "2024-01-%02dT00:00:00Z" % (r["doc_id"] % 28 + 1),
                    "payload": body.encode(),
                }
            )
        ext = ".warc.gz" if compress else ".warc"
        write_warc(
            recs, os.path.join(out_dir, f"part-{n_files:05d}{ext}"), compress
        )
        n_files += 1
    return n_files


_register_by_value()


def extract_text(records: DataFrame, collapse: bool = False) -> DataFrame:
    """``response`` records -> (url, warc_date, text): HTTP body split
    off, HTML stripped to visible text (:func:`html_to_text`).  The
    ingest→extract step of a crawl-to-corpus pipeline; feed the result
    to the dedup/quality/decontamination operators."""
    out_schema = T.StructType(
        [
            T.StructField("url", T.StringType(), True),
            T.StructField("warc_date", T.StringType(), True),
            T.StructField("text", T.StringType(), False),
        ]
    )
    import pandas as pd

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            texts = [
                html_to_text(
                    http_response_body(bytes(p)).decode("utf-8", "replace"),
                    collapse=collapse,
                )
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "warc_date": pdf["warc_date"],
                    "text": texts,
                }
            )

    return records.select("url", "warc_date", "payload").mapInPandas(
        batches, schema=out_schema
    )
