"""Minimal PDF text extraction (stdlib zlib + regex).

Covers the ``PDF/layout parse`` leg of the north rule. Scope: well-formed
single-generation PDFs whose page content streams are plain or FlateDecode
and whose text uses the standard ``Tj`` / ``TJ`` show operators with
parenthesis string literals (the shape ``make_simple_pdf`` writes, and what
most text-first PDF generators emit). Text chunks are emitted in content-
stream order, one line per ``Td``/``T*``-separated show group.

Not a general PDF renderer: no xref/object-stream chasing (streams are
located by scanning), no font/encoding tables (literals are assumed
ASCII/latin-1, the synthetic-corpus case), no encryption.
"""

from __future__ import annotations

import re
import zlib

from ..config import MAX_PDF_STREAM_BYTES

_STREAM_ANCHOR_RE = re.compile(rb">>\s*stream(?:\r\n|\n)")
_ENDSTREAM_RE = re.compile(rb"\s*endstream")
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)\b")
# '/Length 12 0 R' is an indirect reference to another object, not a byte
# count — the digits after the keyword are the OBJECT NUMBER
_INDIRECT_RE = re.compile(rb"\s+\d+\s+R\b")
_TEXT_BLOCK_RE = re.compile(rb"BT(.*?)ET", re.S)
# (string) Tj   |   [(a) -120 (b)] TJ
_TJ_RE = re.compile(rb"\((?:\\.|[^\\()])*\)\s*Tj|\[(?:[^\]])*\]\s*TJ")
_LITERAL_RE = re.compile(rb"\((?:\\.|[^\\()])*\)")

_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _unescape(lit: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(lit):
        c = lit[i : i + 1]
        if c == b"\\" and i + 1 < len(lit):
            nxt = lit[i + 1 : i + 2]
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                i += 2
                continue
            if nxt.isdigit():  # octal \ddd
                j = i + 1
                while j < min(i + 4, len(lit)) and lit[j : j + 1].isdigit():
                    j += 1
                out.append(int(lit[i + 1 : j], 8) & 0xFF)
                i = j
                continue
            i += 1
            continue
        out += c
        i += 1
    return bytes(out)


def _dict_before(data: bytes, close_end: int) -> bytes:
    """The balanced ``<<...>>`` dict whose closing ``>>`` ends at
    ``close_end`` — nested dicts (``/DecodeParms <<...>>``) stay inside, so
    ``/Filter``/``/Length`` of the stream's own dict are never lost (a
    non-greedy ``<<(.*?)>>`` regex or an rsplit on ``<<`` would cut at the
    innermost nested dict instead)."""
    depth = 0
    i = close_end
    while i >= 2:
        two = data[i - 2 : i]
        if two == b">>":
            depth += 1
            i -= 2
        elif two == b"<<":
            depth -= 1
            i -= 2
            if depth == 0:
                return data[i:close_end]
        else:
            i -= 1
    return b""


def extract_pdf_text(data: bytes) -> str:
    """PDF bytes -> text (chunks joined by single spaces, normalized)."""
    if not data.startswith(b"%PDF"):
        raise ValueError("not a PDF")
    pieces: list[str] = []
    pos = 0
    while True:
        m = _STREAM_ANCHOR_RE.search(data, pos)
        if m is None:
            break
        meta = _dict_before(data, m.start() + 2)
        start = m.end()
        body = None
        raw_end = start
        lm = _LENGTH_RE.search(meta)
        if lm is not None and not _INDIRECT_RE.match(meta, lm.end()):
            # per-spec: a DIRECT /Length is the exact byte count — never
            # infer the stream end from an EOL scan (deflate bytes can end
            # in 0x0d, which an `\r?\nendstream` delimiter regex would
            # swallow). Trust it only if 'endstream' actually follows.
            length = int(lm.group(1))
            # match at a position, not on a slice: slicing copies the
            # whole remaining buffer per stream — O(n^2) bytes on PDFs
            # with many streams (round-3 advice)
            if _ENDSTREAM_RE.match(data, start + length):
                body = data[start : start + length]
                raw_end = start + length
        if body is None:
            # indirect /Length (object reference — resolving it needs xref
            # chasing, out of scope) or a length that doesn't land on
            # 'endstream': fall back to the delimiter scan
            end = data.find(b"endstream", start)
            if end == -1:
                pos = start
                continue
            body = data[start:end]
            # strip exactly one EOL belonging to the endstream delimiter
            if body.endswith(b"\r\n"):
                body = body[:-2]
            elif body.endswith(b"\n") or body.endswith(b"\r"):
                body = body[:-1]
            raw_end = end
        # advance past the consumed body so '<<...>>stream' byte patterns
        # INSIDE an uncompressed body can't spawn phantom streams
        pos = raw_end
        if b"FlateDecode" in meta:
            # inflate at most one byte past the budget; an over-budget
            # stream is skipped like a corrupt or truncated one
            inflater = zlib.decompressobj()
            try:
                body = inflater.decompress(body, MAX_PDF_STREAM_BYTES + 1)
            except zlib.error:
                continue
            if len(body) > MAX_PDF_STREAM_BYTES or not inflater.eof:
                continue
        for block in _TEXT_BLOCK_RE.finditer(body):
            for show in _TJ_RE.finditer(block.group(0)):
                for lit in _LITERAL_RE.finditer(show.group(0)):
                    raw = _unescape(lit.group(0)[1:-1])
                    try:
                        pieces.append(raw.decode("latin-1"))
                    except Exception:  # noqa: BLE001
                        continue
    return re.sub(r"\s+", " ", " ".join(pieces)).strip()


def make_simple_pdf(lines: list[str], compress: bool = True) -> bytes:
    """Write a minimal one-page PDF showing ``lines`` with Tj operators —
    the synthetic-corpus PDF producer (and the extractor's easy case)."""

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    content = b"BT /F1 12 Tf 50 750 Td " + b" ".join(
        f"({esc(line)}) Tj 0 -16 Td".encode("latin-1") for line in lines
    ) + b" ET"
    if compress:
        stream = zlib.compress(content)
        filt = b"/Filter /FlateDecode "
    else:
        stream = content
        filt = b""
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< " + filt + b"/Length " + str(len(stream)).encode() + b" >>\n"
        b"stream\n" + stream + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, obj in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + obj + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        b"trailer\n<< /Size " + str(len(objs) + 1).encode() + b" /Root 1 0 R >>\n"
        b"startxref\n" + str(xref_at).encode() + b"\n%%EOF\n"
    )
    return bytes(out)
