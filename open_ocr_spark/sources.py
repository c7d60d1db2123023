"""Source connectors: every input surface the reference accepts, recast as
table ingestion.

- pages_from_binary_files: raw files on disk → pages rows (the A1/A3
  fetch-by-url + raw-bytes sources; `spark.read.format("binaryFile")` is
  the batch analog of open-ocr's url2bytes download,
  /root/reference/ocr_util.go:35-51 — the crawl already fetched).
- requests_from_json: the reference's HTTP JSON request surface
  (/root/reference/ocr_request.go:6-17 field names VERBATIM: img_url,
  img_base64, engine, preprocessors, preprocessor-args, engine_args,
  inplace_decode) parsed with F.from_json into option columns + payload,
  source-priority coalesce applied (A5). This is §3.1 steps 1-4 as one
  projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_ocr_spark.kernels.archive import TooLarge, gunzip_payload, inflate

# the OcrRequest JSON schema, keys as in ocr_request.go:6-17
REQUEST_JSON_SCHEMA = (
    "img_url string, img_base64 string, engine string, "
    "preprocessors array<string>, `preprocessor-args` map<string,string>, "
    "engine_args struct<config_vars:map<string,string>, psm:string, lang:string>, "
    "inplace_decode boolean"
)


def pages_from_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Read raw document files into the pages schema: path → url,
    modificationTime → warc_ts, content → html. Column-pruned binaryFile
    scan; lang unknown at this layer."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    files = reader.load(path)
    return files.select(
        F.col("path").alias("url"),
        F.col("modificationTime").alias("warc_ts"),
        F.col("content").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )


def fetch_url_payloads(requests: DataFrame, url_col: str = "url") -> DataFrame:
    """A1: the reference's fetch-by-url source (url2bytes,
    /root/reference/ocr_util.go:35-51) as a batch stage. Supported
    schemes, resolved inside an Arrow-batched kernel on the executor that
    owns the row:

    - ``data:`` URLs (RFC 2397): payload decoded in-process (base64 or
      percent-encoding) — the self-contained form a test corpus uses;
    - ``file://`` URLs: read from executor-local storage (the batch analog
      of a crawl fetch against a mounted store);
    - ``http(s)://``: error-as-value here — this sandbox has no network,
      and a 10^12-doc pipeline fetches via the crawl layer, not from
      executors mid-query. The row carries fetch_error instead of bytes,
      mirroring how the reference surfaces download failures
      (ocr_rpc_worker.go:163-190).

    Output: every input column (passthrough) + html binary + fetch_error."""
    import base64 as b64
    import binascii
    import urllib.parse

    from pyspark.sql.types import StructType

    from open_ocr_spark.pipeline.stages import map_rows

    passthrough = [
        f for f in requests.schema.fields
        if f.name not in ("html", "fetch_error")
    ]
    schema = StructType(
        passthrough + list(StructType.fromDDL("html binary, fetch_error string"))
    )
    cols = [f.name for f in passthrough]
    url_at = cols.index(url_col)

    def fetch(url):
        if url is None:
            return None, "empty url"
        if url.startswith("data:"):
            try:
                meta, _, payload = url[5:].partition(",")
                if meta.endswith(";base64"):
                    # RFC 2045 allows line breaks in base64 (Spark's
                    # base64() emits 76-char MIME chunking)
                    compact = "".join(payload.split())
                    return b64.b64decode(compact, validate=True), None
                return urllib.parse.unquote_to_bytes(payload), None
            except (ValueError, binascii.Error) as exc:
                return None, f"bad data url: {exc}"
        if url.startswith("file://"):
            # RFC 8089 paths are percent-encoded (Path.as_uri() output)
            path = urllib.parse.unquote(urllib.parse.urlparse(url).path)
            try:
                with open(path, "rb") as f:
                    return f.read(), None
            except OSError as exc:
                return None, f"fetch failed: {exc}"
        if url.startswith(("http://", "https://")):
            return None, "network fetch not available in batch stage"
        return None, f"unsupported url scheme: {url.split(':', 1)[0]}"

    return map_rows(
        requests.select(*cols), schema, lambda *row: [row + fetch(row[url_at])]
    )


MULTIPART_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "engine string, preprocessors array<string>, "
    "preprocessor_args map<string,string>, engine_args_json string, "
    "inplace_decode boolean, error string"
)


def _parse_multipart_request(body: bytes, content_type: str):
    """One multipart/related request body → OcrRequest-shaped dict, with
    the reference's exact part semantics
    (/root/reference/ocr_http_multipart_handler.go:26-88): an
    application/json part fills the request fields; the FIRST image/* part
    becomes the payload and ends parsing (json arriving after the image is
    ignored, as in the reference); any other part type is an error, as is
    a non-multipart/related content type. Errors come back as values."""
    import email.parser
    import email.policy
    import json as _json

    if not (content_type or "").strip().lower().startswith("multipart/related"):
        return None, "Expected multipart related"
    msg = email.parser.BytesParser(policy=email.policy.default).parsebytes(
        b"Content-Type: " + content_type.encode("ascii", "replace")
        + b"\r\nMIME-Version: 1.0\r\n\r\n" + bytes(body)
    )
    if not msg.is_multipart():
        return None, "Expected multipart related"
    req: dict = {}
    for part in msg.iter_parts():
        ptype = part.get_content_type()
        if ptype == "application/json":
            try:
                req.update(_json.loads(part.get_payload(decode=True)))
            except (ValueError, TypeError) as exc:
                return None, f"Unable to unmarshal json: {exc}"
        elif ptype.startswith("image"):
            req["_img_bytes"] = part.get_payload(decode=True)
            return req, None
        else:
            return None, "Expected content-type: image/*"
    return None, "no image part in multipart body"


def requests_from_multipart(
    requests: DataFrame,
    body_col: str = "body",
    content_type_col: str = "content_type",
) -> DataFrame:
    """A4: the multipart/related upload surface as batch ingestion — one
    request body per row, parsed with the stdlib MIME parser inside an
    Arrow-batched kernel (ingestion-boundary Python, like the reference's
    handler; the extraction hot path stays JVM-side). Output shape matches
    requests_from_json plus an ``error`` column (error-as-value)."""
    import json as _json

    from open_ocr_spark.pipeline.stages import map_rows

    def parse(body, ctype):
        req, err = _parse_multipart_request(
            bytes(body) if body is not None else b"", ctype or ""
        )
        if err is not None:
            return [(None,) * 10 + (err,)]
        ea = req.get("engine_args")
        return [(
            req.get("img_url"),
            None,
            req.get("_img_bytes"),
            None,
            (ea or {}).get("lang"),
            req.get("engine"),
            req.get("preprocessors"),
            req.get("preprocessor-args"),
            _json.dumps(ea, sort_keys=True) if ea is not None else None,
            req.get("inplace_decode"),
            None,
        )]

    return map_rows(
        requests.select(body_col, content_type_col), MULTIPART_SCHEMA, parse
    )


def requests_from_json(
    requests: DataFrame,
    json_col: str = "request",
    ingest_ts: str = "2024-01-01 00:00:00",
) -> DataFrame:
    """Parse a column of OcrRequest JSON bodies into the pipeline's input
    shape. Mirrors the reference's decode + materialize steps
    (ocr_http_handler.go:26-33 JSON decode; ocr_rpc_client.go:89-109
    source-priority resolve): img_base64 decodes via unbase64; img_url
    remains the identity key (no network fetch at runtime — A1 is
    ingest-only). engine_args keeps the reference's nested shape and is
    re-encoded as JSON for the kernel (`engine_args_json`).

    ``ingest_ts`` stamps warc_ts with a caller-controlled CONSTANT (a real
    ingest passes its batch's crawl time); the default is a fixed epoch,
    never current_timestamp(), so two runs of the same ingest produce
    byte-identical frames (SURVEY §7.3 determinism invariant)."""
    parsed = requests.withColumn(
        "_req", F.from_json(F.col(json_col), REQUEST_JSON_SCHEMA)
    )
    return parsed.select(
        F.col("_req.img_url").alias("url"),
        F.to_timestamp(F.lit(ingest_ts)).alias("warc_ts"),
        F.unbase64(F.col("_req.img_base64")).alias("html"),  # A2/A5 coalesce
        F.lit(None).cast("string").alias("text"),
        F.col("_req.engine_args.lang").alias("lang"),
        F.col("_req.engine").alias("engine"),
        F.col("_req.preprocessors").alias("preprocessors"),
        F.col("_req.`preprocessor-args`").alias("preprocessor_args"),
        F.to_json(F.col("_req.engine_args")).alias("engine_args_json"),
        F.col("_req.inplace_decode").alias("inplace_decode"),
    )


# --------------------------------------------------------------------- WARC

# Decompressed-size cap per WARC blob: a hostile gzip bomb in one row must
# not take down an executor; over-limit blobs become one error record.
WARC_MAX_DECOMPRESSED = 1 << 30

WARC_RECORD_FIELDS = (
    "rec_index int, warc_type string, target_uri string, warc_date string, "
    "content_type string, payload binary, error string, "
    "payload_digest string, refers_to_uri string"
)


def parse_warc_bytes(
    data: bytes, limit: int = WARC_MAX_DECOMPRESSED
) -> list[dict]:
    """Parse one WARC file (plain or gzip member-per-record) into record
    dicts: ``{rec_index, warc_type, target_uri, warc_date, content_type,
    payload, error}``.

    Grammar per record (ISO 28500): ``WARC/1.x CRLF`` version line, CRLF
    header lines ``Name: value`` up to an empty line, ``Content-Length``
    bytes of payload, two CRLFs of record separator. Anything malformed
    (bad magic, headerless block, non-numeric/out-of-range length, missing
    separator) yields ONE error record for the remainder and stops — the
    same error-as-value contract as the reference's handlers
    (/root/reference/ocr_rpc_worker.go:163-190): a bad blob never fails
    the job, it becomes a row."""
    recs: list[dict] = []

    def err(msg: str) -> list[dict]:
        recs.append({
            "rec_index": len(recs), "warc_type": None, "target_uri": None,
            "warc_date": None, "content_type": None, "payload": None,
            "error": msg, "payload_digest": None, "refers_to_uri": None,
        })
        return recs

    raw = bytes(data or b"")
    if raw[:2] == b"\x1f\x8b":
        try:
            raw = gunzip_payload(raw, cap=limit)
        except ValueError as exc:
            return err(f"gzip: {exc}")
    pos = 0
    while pos < len(raw):
        if not raw.startswith(b"WARC/", pos):
            return err(f"record {len(recs)}: missing WARC/ magic at {pos}")
        head_end = raw.find(b"\r\n\r\n", pos)
        if head_end < 0:
            return err(f"record {len(recs)}: unterminated header block")
        headers: dict[str, str] = {}
        head_lines = raw[pos:head_end].split(b"\r\n")
        for line in head_lines[1:]:  # [0] is the version line
            name, sep, value = line.partition(b":")
            if not sep:
                return err(
                    f"record {len(recs)}: malformed header line "
                    f"{line[:40]!r}"
                )
            headers[name.strip().decode("latin-1").lower()] = (
                value.strip().decode("latin-1")
            )
        try:
            length = int(headers["content-length"])
        except KeyError:
            return err(f"record {len(recs)}: no Content-Length")
        except ValueError:
            return err(f"record {len(recs)}: bad Content-Length")
        body_start = head_end + 4
        if length < 0 or body_start + length > len(raw):
            return err(f"record {len(recs)}: Content-Length out of range")
        recs.append({
            "rec_index": len(recs),
            "warc_type": headers.get("warc-type"),
            "target_uri": headers.get("warc-target-uri"),
            "warc_date": headers.get("warc-date"),
            "content_type": headers.get("content-type"),
            "payload": raw[body_start:body_start + length],
            "error": None,
            # revisit-record surface (ISO 28500 §6.7): the digest that
            # deduplicated this capture and, for revisits, the capture it
            # points back to
            "payload_digest": headers.get("warc-payload-digest"),
            "refers_to_uri": headers.get("warc-refers-to-target-uri"),
        })
        pos = body_start + length
        if pos == len(raw):
            break
        if raw[pos:pos + 4] != b"\r\n\r\n":
            return err(f"record {len(recs)}: missing record separator")
        pos += 4
    return recs


def build_warc(
    records,
    gzip_members: bool = False,
    warc_date: str = "2024-01-01T00:00:00Z",
) -> bytes:
    """Serialize ``records`` — (target_uri, payload bytes[, warc_type])
    tuples — into one spec-shaped WARC file: version line, CRLF headers,
    Content-Length in BYTES, two-CRLF record separators (ISO 28500).
    ``gzip_members=True`` emits the Common-Crawl layout, one gzip member
    PER RECORD, so readers can split the file at member boundaries
    without decompressing. The symmetric twin of ``parse_warc_bytes``;
    fixtures and property tests roundtrip through both."""
    import gzip as _gzip

    out = []
    for rec in records:
        uri, payload = rec[0], bytes(rec[1])
        rtype = rec[2] if len(rec) > 2 else "response"
        raw = (
            f"WARC/1.0\r\nWARC-Type: {rtype}\r\nWARC-Target-URI: {uri}\r\n"
            f"WARC-Date: {warc_date}\r\nContent-Type: text/plain\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode("latin-1") + payload + b"\r\n\r\n"
        out.append(
            _gzip.compress(raw, mtime=0) if gzip_members else raw
        )
    return b"".join(out)


def records_from_warc(
    files: DataFrame, payload_col: str = "warc"
) -> DataFrame:
    """Explode a binary column of WARC files into one row per WARC record
    (rec_index, warc_type, target_uri, warc_date, content_type, payload,
    error), keeping every other input column as passthrough — the
    Common-Crawl-native ingest surface in front of the pages schema
    (A1/A3 recast: the crawl's own container format instead of one blob
    per row).

    Scale shape: one-to-many map_rows, no shuffle — each WARC file is
    parsed where its bytes already sit, and downstream stages see ordinary
    rows. Arrow batches bound memory to a few files at a time; the
    decompression cap bounds hostile blobs. Parsing is the same
    ingestion-boundary Python as the multipart surface above (the
    extraction hot path stays JVM-side)."""
    from pyspark.sql.types import StructType

    from open_ocr_spark.pipeline.stages import map_rows

    at = files.columns.index(payload_col)
    passthrough = [f for f in files.schema.fields if f.name != payload_col]
    # Programmatic schema (not a DDL string): passthrough column names are
    # caller-controlled and need no identifier quoting this way.
    schema = StructType(
        list(passthrough) + list(StructType.fromDDL(WARC_RECORD_FIELDS))
    )
    rec_names = [
        "rec_index", "warc_type", "target_uri", "warc_date",
        "content_type", "payload", "error", "payload_digest",
        "refers_to_uri",
    ]

    def records(*row):
        blob, base = row[at], row[:at] + row[at + 1 :]
        for rec in parse_warc_bytes(bytes(blob) if blob is not None else b""):
            yield base + tuple(rec[c] for c in rec_names)

    return map_rows(files, schema, records)


# --- HTTP envelope inside WARC response payloads --------------------------------
# A Common-Crawl ``response`` record's payload is the RAW HTTP message the
# crawler captured: status line, header block, and a body that may still
# be chunked (Transfer-Encoding) and/or compressed (Content-Encoding).
# Ingest must strip that envelope before the bytes are a page — the last
# parsing layer between the archive format and the `pages` schema.


def split_http_response(
    payload: bytes, limit: int = WARC_MAX_DECOMPRESSED
) -> tuple:
    """(status, content_type, body, error) from one raw HTTP/1.x response.

    Handles the capture-reality layers in order: CRLF header block
    (latin-1, last-wins on duplicates), chunked transfer-coding (hex
    size lines, optional chunk extensions, trailers ignored), then
    gzip/x-gzip/deflate content-coding (zlib, decompression capped at
    ``limit``; bytes after the encoded stream are ignored).  Every
    malformation returns an error VALUE — a bad or truncated capture
    never fails the job (same contract as parse_warc_bytes)."""
    import zlib

    def err(msg: str):
        return None, None, None, msg

    if not payload.startswith(b"HTTP/"):
        return err("not an HTTP response payload")
    sep = payload.find(b"\r\n\r\n")
    if sep < 0:
        return err("unterminated HTTP header block")
    head_lines = payload[:sep].split(b"\r\n")
    parts = head_lines[0].split(None, 2)
    if len(parts) < 2 or not parts[1].isdigit():
        return err("malformed HTTP status line")
    status = int(parts[1])
    headers: dict[str, str] = {}
    for line in head_lines[1:]:
        if b":" not in line:
            return err("malformed HTTP header line")
        name, _, value = line.partition(b":")
        headers[name.strip().decode("latin-1").lower()] = (
            value.strip().decode("latin-1")
        )
    body = payload[sep + 4:]

    te = headers.get("transfer-encoding", "").lower()
    if te and not all(
        t.strip() in ("chunked", "identity") for t in te.split(",")
    ):
        # mirror the content-coding rejection below: an unhandled
        # transfer-coding must be an error value, never still-encoded
        # bytes silently returned as the page body
        return err(f"unsupported transfer-encoding {te!r}")
    if "chunked" in te:
        out, pos, total = [], 0, 0
        while True:
            eol = body.find(b"\r\n", pos)
            if eol < 0:
                return err("truncated chunked body (no size line)")
            size_tok = body[pos:eol].split(b";", 1)[0].strip()
            try:
                size = int(size_tok, 16)
            except ValueError:
                return err(f"bad chunk size {size_tok[:16]!r}")
            if size == 0:
                break  # trailers (if any) are ignored
            start = eol + 2
            if start + size + 2 > len(body):
                return err("truncated chunk data")
            if body[start + size:start + size + 2] != b"\r\n":
                return err("missing chunk terminator")
            total += size
            if total > limit:
                return err("chunked body exceeds decompression cap")
            out.append(body[start:start + size])
            pos = start + size + 2
        body = b"".join(out)

    coding = headers.get("content-encoding", "").lower()
    if coding in ("gzip", "x-gzip", "deflate"):
        try:
            if body:  # an empty body (a redirect, say) encodes nothing
                body, _ = inflate(body, limit,
                                  47 if coding != "deflate" else 15)
        except TooLarge:
            return err("encoded body exceeds decompression cap")
        except EOFError:
            return err(f"truncated {coding} body")
        except zlib.error as exc:
            return err(f"bad {coding} body ({exc})")
    elif coding and coding != "identity":
        return err(f"unsupported content-encoding {coding!r}")

    return status, headers.get("content-type"), body, None


def build_http_response(
    body: bytes,
    status: int = 200,
    content_type: str = "text/html; charset=utf-8",
    chunked: bool = False,
    gzipped: bool = False,
) -> bytes:
    """Writer twin: one raw HTTP/1.1 response whose split_http_response
    output is exactly (status, content_type, body, None) — chunked
    splits the body into two chunks with an extension on the first;
    gzipped applies Content-Encoding after (matching real stacks:
    content-coding inside transfer-coding)."""
    import gzip as _gzip

    payload = body
    headers = [f"Content-Type: {content_type}"]
    if gzipped:
        payload = _gzip.compress(payload, mtime=0)
        headers.append("Content-Encoding: gzip")
    if chunked:
        headers.append("Transfer-Encoding: chunked")
        half = len(payload) // 2
        chunks = b""
        for part in (payload[:half], payload[half:]):
            if part:
                ext = b";x=1" if not chunks else b""
                chunks += f"{len(part):x}".encode() + ext + b"\r\n" + part + b"\r\n"
        payload = chunks + b"0\r\n\r\n"
    else:
        headers.append(f"Content-Length: {len(payload)}")
    head = (
        f"HTTP/1.1 {status} X\r\n" + "\r\n".join(headers) + "\r\n\r\n"
    ).encode("latin-1")
    return head + payload


HTTP_RESPONSE_FIELDS = (
    "http_status int, http_content_type string, body binary, "
    "http_error string"
)


def http_responses(
    records: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Strip the HTTP envelope from WARC response payloads: every input
    column except ``payload_col`` passes through, plus (http_status,
    http_content_type, body, http_error).  Same scale shape as
    records_from_warc: map_rows where the bytes sit, no shuffle."""
    from pyspark.sql.types import StructType

    from open_ocr_spark.pipeline.stages import map_rows

    at = records.columns.index(payload_col)
    passthrough = [f for f in records.schema.fields if f.name != payload_col]
    schema = StructType(
        list(passthrough) + list(StructType.fromDDL(HTTP_RESPONSE_FIELDS))
    )

    def response(*row):
        blob, base = row[at], row[:at] + row[at + 1 :]
        return [base + split_http_response(
            bytes(blob) if blob is not None else b""
        )]

    return map_rows(records, schema, response)
