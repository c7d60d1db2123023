"""Containers, and the one budget for everything that decompresses.

Crawled corpora arrive as tarballs, .gz files and zips (site dumps,
dataset mirrors, docs bundles); six format rows share the zip ``PK``
magic (docx, odt, pptx, xlsx, epub, zip). This module decides how those
payloads are opened and how much of them may be read:

- gzip (the dispatch's .gz, the WARC reader's .warc.gz) and PDF
  FlateDecode streams go through ``inflate``, the one bounded inflate;
  a document may inflate to ``MAX_DOC_BYTES``.
- a zip payload is opened ONCE (``_listing``); the PK sniffs test that
  listing and every row reads members through ``ZipReader``, which
  checks each declared size against a ``MAX_GUNZIP_BYTES`` budget per
  payload before the member inflates.
- tar members and zip members route back through the dispatch.

Over budget is an error value of the row, never truncated output.

The tar parser follows the public format (POSIX.1-1988 ustar layout,
POSIX.1-2001 pax extensions):

- 512-byte header blocks: name[100] mode[8] uid[8] gid[8] size[12]
  mtime[12] chksum[8] typeflag[1] linkname[100] magic[6] version[2]
  uname[32] gname[32] devmajor[8] devminor[8] prefix[155].
- numeric fields are NUL/space-terminated octal; the checksum is the
  byte sum of the header with the chksum field read as 8 spaces.
- member data follows, zero-padded to 512; two all-zero blocks end the
  archive.
- pax extended headers (typeflag ``x``/``g``) and GNU long-name records
  (``L``/``K``) are metadata, not members: their data blocks are
  skipped. Directories (``5``), links (``1``/``2``) and specials
  (``3``/``4``/``6``/``7``) carry no text and are skipped too.

The writer twins are the stdlib ``tarfile`` and ``zipfile`` modules —
the tests and the oracle query parse archives written by an INDEPENDENT
implementation, so the parser can't be self-consistent with its own bugs.
"""

from __future__ import annotations

import functools
import io
import zipfile
import zlib
from typing import NamedTuple

_BLOCK = 512
_MAX_MEMBERS = 4096


def is_tar(raw: bytes) -> bool:
    """ustar magic at offset 257 plus a validating header checksum — the
    checksum makes a text file that merely contains "ustar" at the right
    offset astronomically unlikely to match."""
    if len(raw) < _BLOCK or raw[257:262] != b"ustar":
        return False
    try:
        return _checksum_ok(raw[:_BLOCK])
    except ValueError:
        return False


def _octal(field: bytes) -> int:
    s = field.split(b"\x00", 1)[0].strip()
    if not s:
        return 0
    try:
        return int(s, 8)
    except ValueError as exc:
        raise ValueError(f"bad octal field {field!r}") from exc


def _checksum_ok(header: bytes) -> bool:
    stored = _octal(header[148:156])
    computed = sum(header[:148]) + 8 * 32 + sum(header[156:])
    return stored == computed


def split_tar(raw: bytes) -> list[tuple[str, bytes]]:
    """Parse an archive into (member name, bytes) pairs for regular
    files, in archive order. Raises ValueError on a corrupt header so
    the dispatch yields an error value."""
    members: list[tuple[str, bytes]] = []
    pos = 0
    pax_path: str | None = None  # path override from the preceding x-record
    while pos + _BLOCK <= len(raw):
        header = raw[pos:pos + _BLOCK]
        if header == b"\x00" * _BLOCK:
            return members  # end-of-archive marker
        if header[257:262] != b"ustar":
            raise ValueError(f"bad tar magic at offset {pos}")
        if not _checksum_ok(header):
            raise ValueError(f"tar header checksum mismatch at offset {pos}")
        size = _octal(header[124:136])
        typeflag = header[156:157]
        pos += _BLOCK
        data_blocks = (size + _BLOCK - 1) // _BLOCK
        if typeflag in (b"0", b"\x00"):
            if pos + size > len(raw):
                raise ValueError("tar member data truncated")
            if pax_path is not None:
                name, pax_path = pax_path, None
            else:
                name = header[:100].split(b"\x00", 1)[0].decode(
                    "utf-8", errors="replace"
                )
                prefix = header[345:500].split(b"\x00", 1)[0].decode(
                    "utf-8", errors="replace"
                )
                if prefix:
                    name = f"{prefix}/{name}"
            members.append((name, raw[pos:pos + size]))
            if len(members) > _MAX_MEMBERS:
                raise ValueError(f"tar member count exceeds {_MAX_MEMBERS}")
        elif typeflag == b"x":
            # pax extended header: "len key=value\n" records; the path
            # key overrides the NEXT member's name (POSIX.1-2001)
            pax_path = _pax_path(raw[pos:pos + size]) or pax_path
        elif typeflag == b"L":
            # GNU long-name record: the data block IS the next member's
            # name, NUL-terminated (tar(5) GNU extensions)
            pax_path = (
                raw[pos:pos + size].split(b"\x00", 1)[0]
                .decode("utf-8", errors="replace")
            ) or pax_path
        else:
            # pax g, GNU K, dirs, links, specials: data skipped
            pax_path = None
        pos += data_blocks * _BLOCK
    # fell off the end without the all-zero end-of-archive block: a
    # truncated download must not silently pass as a shorter archive
    raise ValueError("tar truncated: missing end-of-archive marker")


def _pax_path(data: bytes) -> str | None:
    pos = 0
    path = None
    while pos < len(data):
        sp = data.find(b" ", pos)
        if sp < 0:
            break
        try:
            rec_len = int(data[pos:sp])
        except ValueError:
            break
        if rec_len <= 0 or pos + rec_len > len(data):
            break
        record = data[sp + 1:pos + rec_len]
        if record.startswith(b"path="):
            path = record[5:].rstrip(b"\n").decode("utf-8", errors="replace")
        pos += rec_len
    return path


def build_tar(members: list[tuple[str, bytes]]) -> bytes:
    """Writer twin via the stdlib (independent implementation):
    deterministic metadata so fixtures are byte-stable."""
    import tarfile

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w",
                      format=tarfile.USTAR_FORMAT) as tf:
        for name, data in members:
            info = tarfile.TarInfo(name=name)
            info.size = len(data)
            info.mtime = 0
            info.uid = info.gid = 0
            info.uname = info.gname = ""
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


# ---------------------------------------------------------------------------
# gzip, the six zip-based rows and PDF FlateDecode: bounded decompression
# ---------------------------------------------------------------------------

GZIP_MAGIC = b"\x1f\x8b"
ZIP_MAGIC = b"PK\x03\x04"

# Per-document resource bound — the batch analog of the reference's 120 s
# RPC timeout (ocr_rpc_client.go:13,141-146): a pathological document gets
# an error value instead of stalling its whole task. 20 MB covers >99.99%
# of real crawl pages. A .gz and a PDF's inflated streams count against it.
MAX_DOC_BYTES = 20 * 1024 * 1024

# Same hostile-input posture as the WARC layer: a gzip bomb in one row
# caps out as an error value instead of eating the executor. It is also
# the declared-size budget of all the members read from one zip payload.
MAX_GUNZIP_BYTES = 64 * 1024 * 1024


class TooLarge(ValueError):
    """Decompressed output over its byte budget."""


def inflate(data: bytes, cap: int, wbits: int = zlib.MAX_WBITS
            ) -> tuple[bytes, bytes]:
    """Inflate ONE deflate stream (zlib framing; gzip with wbits=31) to at
    most ``cap`` bytes. Returns (output, input left after the stream).
    Raises TooLarge past the cap, zlib.error on corrupt data, and
    EOFError, with zlib.decompress's message, when the stream ends
    early."""
    d = zlib.decompressobj(wbits=wbits)
    out = d.decompress(data, cap + 1)
    if len(out) > cap:
        raise TooLarge(f"inflated output over limit: exceeds {cap} bytes")
    if not d.eof:
        raise EOFError("Error -5 while decompressing data: "
                       "incomplete or truncated stream")
    return out, d.unused_data


def gunzip_payload(raw: bytes, cap: int = MAX_GUNZIP_BYTES) -> bytes:
    """Decompress one (possibly multi-member) gzip stream with a size
    cap: Common Crawl compresses WARCs one member PER RECORD, so every
    member is walked. Raises TooLarge past the cap, ValueError on
    corruption or truncation."""
    out = []
    data = raw
    while data[:2] == GZIP_MAGIC:
        try:
            chunk, data = inflate(data, cap, wbits=31)
        except zlib.error as exc:
            raise ValueError(f"bad gzip stream: {exc}") from exc
        except EOFError:
            raise ValueError("truncated gzip stream") from None
        cap -= len(chunk)
        out.append(chunk)
    if not out:
        raise ValueError("not a gzip stream")
    if data:
        raise ValueError("trailing garbage after gzip stream")
    return b"".join(out)


# zipfile's faults: corrupt directory, CRC or deflate data (zlib.error,
# or EOFError when a member ends early); a missing member; an unsupported
# compression method; RuntimeError, its encrypted-member signal
_BAD_ZIP = (zipfile.BadZipFile, KeyError, OSError, zlib.error, EOFError,
            NotImplementedError, RuntimeError)


def _member(zf: zipfile.ZipFile, info: zipfile.ZipInfo, left: int) -> bytes:
    """The one bounded member read: the declared size must fit ``left``
    BEFORE anything inflates, and zipfile never inflates past a declared
    size (a member that lies about it fails its CRC check)."""
    if info.file_size > left:
        raise TooLarge(f"declared size exceeds {MAX_GUNZIP_BYTES} bytes")
    return zf.read(info)


class _Listing(NamedTuple):
    zf: zipfile.ZipFile | None
    error: Exception | None  # why the payload did not open as a zip
    names: list[str]
    mimetype: bytes  # the ODF/EPUB mimetype member; b"" if absent/unreadable


@functools.lru_cache(maxsize=1)
def _listing(payload: bytes) -> _Listing:
    """Open a zip payload ONCE: every PK sniff and then the chosen row get
    the same bytes object, an identity hit on this one-entry cache."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
    except Exception as exc:  # the sniffs say no; the rows re-raise it
        return _Listing(None, exc, [], b"")
    names = zf.namelist()
    mimetype = b""
    if "mimetype" in names:
        try:
            mimetype = _member(zf, zf.getinfo("mimetype"), MAX_GUNZIP_BYTES)
        except Exception:
            pass
    return _Listing(zf, None, names, mimetype)


def zip_listing(payload: bytes) -> _Listing:
    """The zip directory the PK sniffs test: names and the mimetype
    member; empty without the PK magic or when the payload won't open."""
    if payload[:4] != ZIP_MAGIC:
        return _Listing(None, None, [], b"")
    return _listing(bytes(payload))


class ZipReader:
    """Member reads from one zip payload under one budget: the declared
    sizes of everything read stay within MAX_GUNZIP_BYTES (read at
    construction). A fault raises ValueError(bad.format(part=, exc=)),
    part being "container" (the payload did not open) or "member"."""

    def __init__(self, payload: bytes, bad: str):
        self.zf, error, self.names, _ = _listing(bytes(payload))
        self._bad, self._left = bad, MAX_GUNZIP_BYTES
        if isinstance(error, _BAD_ZIP):
            raise self.fault(error, part="container") from error
        if error is not None:
            raise error

    def fault(self, exc: object, part: str = "member") -> ValueError:
        """The row's error for ``exc``; a part the row finds missing is
        passed as KeyError(what), worded like zipfile's own."""
        return ValueError(self._bad.format(part=part, exc=exc))

    def read(self, member: str | zipfile.ZipInfo) -> bytes:
        try:
            info = (self.zf.getinfo(member) if isinstance(member, str)
                    else member)
            data = _member(self.zf, info, self._left)
        except (TooLarge, *_BAD_ZIP) as exc:
            raise self.fault(exc) from exc
        self._left -= len(data)
        return data


def split_zip(raw: bytes) -> list[tuple[str, bytes]]:
    """Generic zip archive → (member name, bytes) pairs for regular
    files, central-directory order; directories skipped. Bomb guard: at
    most _MAX_MEMBERS members, read under the ZipReader budget."""
    zr = ZipReader(raw, "bad zip {part}: {exc}")
    infos = [i for i in zr.zf.infolist() if not i.is_dir()]
    if len(infos) > _MAX_MEMBERS:
        raise ValueError(f"zip member count exceeds {_MAX_MEMBERS}")
    return [(i.filename, zr.read(i)) for i in infos]


def build_zip(members: list[tuple[str, bytes]]) -> bytes:
    """Writer twin: deterministic (fixed timestamps, deflate). A member
    named ``mimetype`` is STORED, as ODF and EPUB require of theirs."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, data in members:
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = (zipfile.ZIP_STORED if name == "mimetype"
                                  else zipfile.ZIP_DEFLATED)
            zf.writestr(info, data)
    return buf.getvalue()
