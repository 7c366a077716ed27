"""PDF text-layer parse (north rule: 'PDF/layout parse')."""

import struct
import tracemalloc
import zlib

import numpy as np
import pytest

from mindocr_spark.functions.glyphs import render_page, render_table
from mindocr_spark.functions.pdf_text import extract_pdf_text, make_simple_pdf
from mindocr_spark.functions.png_codec import encode_png
from mindocr_spark.kernels.system import decode_gray, media_payload_text, route_payload


def test_roundtrip_compressed():
    pdf = make_simple_pdf(["hello world", "line two 42"])
    assert pdf.startswith(b"%PDF")
    assert extract_pdf_text(pdf) == "hello world line two 42"


def test_roundtrip_uncompressed():
    pdf = make_simple_pdf(["plain stream"], compress=False)
    assert extract_pdf_text(pdf) == "plain stream"


def test_escapes_and_parens():
    pdf = make_simple_pdf(["a (quoted) \\ backslash"])
    assert extract_pdf_text(pdf) == "a (quoted) \\ backslash"


def _flate_pdf(stream):
    """A one-stream PDF whose FlateDecode content stream is ``stream``."""
    return (
        b"%PDF-1.4\n1 0 obj\n<< /Filter /FlateDecode /Length "
        + str(len(stream)).encode()
        + b" >>\nstream\n" + stream + b"\nendstream\nendobj\n%%EOF"
    )


def test_tj_array_operator():
    # hand-built TJ array form
    content = b"BT [(kerned) -120 (pair)] TJ ET"
    assert extract_pdf_text(_flate_pdf(zlib.compress(content))) == "kerned pair"


def test_not_a_pdf_raises():
    with pytest.raises(ValueError):
        extract_pdf_text(b"plain bytes")


def _luminance(rgb):
    r, g, b = (rgb[:, :, i].astype(np.uint32) for i in range(3))
    return ((299 * r + 587 * g + 114 * b) // 1000).astype(np.uint8)


_PAGE = render_page([("routed", 30, 30)], 96, 224)[0]
# blue-tinted ink: the channels differ, so the gray conversion is not a no-op
_RGB_PAGE = np.stack([_PAGE, _PAGE, np.maximum(_PAGE, 60)], axis=-1)



def _gray_png(w, h, idat):
    """A gray PNG whose IHDR claims w x h, carrying ``idat`` as-is."""

    def chunk(tag, payload):
        crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
        return struct.pack(">I", len(payload)) + tag + payload + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


# ~64 KB of IDAT that inflates to 64 MB of zeros
_BOMB = zlib.compress(bytes(64 << 20), 9)

# payload -> the text route_payload settles, or the gray image it hands to OCR
_ROUTES = {
    "none": (None, ""),
    "empty": (b"", ""),
    "junk": (b"junk", ""),
    "truncated_png": (encode_png(_PAGE)[:60], ""),
    "corrupt_pdf": (b"%PDF-1.4 garbage", ""),
    "pdf": (make_simple_pdf(["routed text"]), "routed text"),
    "ruled_table": (
        encode_png(render_table([["alpha", "beta"], ["one42", ""]])[0]),
        "alpha beta one42",
    ),
    "png_bomb": (_gray_png(8, 8, _BOMB), ""),
    "oversized_ihdr": (_gray_png(1 << 16, 1 << 16, _BOMB), ""),
    "pdf_bomb": (_flate_pdf(_BOMB), ""),
    "gray_page": (encode_png(_PAGE), _PAGE),
    "rgb_page": (encode_png(_RGB_PAGE), _luminance(_RGB_PAGE)),
}


@pytest.mark.parametrize("route", list(_ROUTES))
def test_payload_router(route):
    payload, expected = _ROUTES[route]
    tracemalloc.start()
    try:
        text, img = route_payload(payload)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    # no payload inflates past its (budgeted) IHDR size
    assert peak < 8 << 20
    if isinstance(expected, str):  # settled without OCR
        assert text == expected and img is None
        assert media_payload_text(payload) == expected
    else:  # a page: decoded to gray, OCR'd by media_payload_text
        assert text is None
        np.testing.assert_array_equal(img, expected)
        np.testing.assert_array_equal(decode_gray(payload), expected)
        assert media_payload_text(payload) == "routed"


def test_corpus_contains_pdfs_and_matches_expected():
    from mindocr_spark.data.gen_corpus import gen_corpus_pandas
    from mindocr_spark.oracle.pipeline import extract_documents_oracle

    spans, media = gen_corpus_pandas(40, seed=42)
    pdf_rows = media[media["media_ref"].str.startswith("pdf_")]
    assert len(pdf_rows) > 0
    out = extract_documents_oracle(spans, media)
    expected = dict(zip(media["media_ref"], media["expected_text"]))
    n = 0
    for _, r in out.iterrows():
        for s in r["out_spans"]:
            if s["media_ref"] and s["media_ref"].startswith("pdf_"):
                assert s["text"] == expected[s["media_ref"]]
                n += 1
    assert n == len(pdf_rows)


def test_flate_stream_ending_in_carriage_return():
    """Regression (round-2 gate catch): zlib.compress('... (fast merge row) ...')
    ends in byte 0x0d; an `\\r?\\nendstream` delimiter regex swallows it and
    truncates the deflate stream. The extractor must honor /Length instead."""
    import zlib

    text = "fast merge row"
    pdf = make_simple_pdf([text])
    content = b"BT /F1 12 Tf 50 750 Td (fast merge row) Tj 0 -16 Td ET"
    assert zlib.compress(content).endswith(b"\r")  # the trap is real
    assert extract_pdf_text(pdf) == text


def test_stream_without_length_falls_back_to_delimiter_scan():
    pdf = make_simple_pdf(["no length key"], compress=False)
    pdf = pdf.replace(b"/Length", b"/XLenX")  # same byte count, key unknown
    assert extract_pdf_text(pdf) == "no length key"


def test_indirect_length_reference_falls_back():
    """'/Length 12 0 R' is an object REFERENCE: treating 12 as a byte count
    slices a 12-byte body and silently drops the stream (ADVICE r2). The
    extractor must detect the '<n> <gen> R' form and use the delimiter scan
    (common in incrementally-written PDFs)."""
    body = zlib.compress(b"BT (indirect length) Tj ET")
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Filter /FlateDecode /Length 12 0 R >>\n"
        b"stream\n" + body + b"\nendstream\nendobj\n"
        b"12 0 obj\n" + str(len(body)).encode() + b"\nendobj\n%%EOF"
    )
    assert extract_pdf_text(pdf) == "indirect length"


def test_wrong_direct_length_falls_back():
    """A direct /Length that does not land on 'endstream' (corrupt or
    post-edit stale) must not truncate the body."""
    body = zlib.compress(b"BT (stale length) Tj ET")
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Filter /FlateDecode /Length 3 >>\n"
        b"stream\n" + body + b"\nendstream\nendobj\n%%EOF"
    )
    assert extract_pdf_text(pdf) == "stale length"


def test_nested_dict_keeps_filter_and_length():
    """A stream dict containing a nested dict (/DecodeParms <<...>>) must
    keep its own /Filter and /Length — an rsplit on '<<' loses both and the
    deflate body is then scanned as raw bytes (ADVICE r2)."""
    body = zlib.compress(b"BT (nested dict) Tj ET")
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Filter /FlateDecode "
        b"/DecodeParms << /Foo 12 >> /Length "
        + str(len(body)).encode()
        + b" >>\nstream\n" + body + b"\nendstream\nendobj\n%%EOF"
    )
    assert extract_pdf_text(pdf) == "nested dict"


def test_stream_lookalike_inside_uncompressed_body_is_not_a_stream():
    """'<<...>>stream' byte patterns INSIDE a body must not spawn phantom
    streams: the scan cursor advances past each consumed body."""
    inner = b"BT (real text) Tj ET << /Fake 1 >>\nstream\nBT (phantom) Tj ET"
    pdf = (
        b"%PDF-1.4\n1 0 obj\n<< /Length "
        + str(len(inner)).encode()
        + b" >>\nstream\n" + inner + b"\nendstream\nendobj\n%%EOF"
    )
    assert extract_pdf_text(pdf) == "real text phantom"
