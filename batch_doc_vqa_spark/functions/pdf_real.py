"""Minimal real-PDF (%PDF-) text-layer extraction + a matching generator.

The reference treats real PDFs as first-class input — it splits them into
page images for the vision model (/root/reference/src/batch_doc_vqa/utils/
image_processing.py:8-53). No rasterizer exists in this container, but the
*text layer* of uncompressed / FlateDecode PDFs is pure public-format parsing
(ISO 32000-1, PDF 1.x): locate stream objects, inflate FlateDecode ones,
tokenize the content-stream language, and emit text from the text-showing
operators (Tj, ', ", TJ) with BT/ET + Td/TD/T* line structure.

Scope — documented and fail-loud outside it:
- content streams must be raw or FlateDecode; any other /Filter (DCTDecode,
  LZW, crypt filters) → ``UnsupportedPdf``;
- encrypted documents (/Encrypt in a trailer dict) → ``UnsupportedPdf``;
- literal strings (with the full escape table + octal + line continuations)
  and hex strings are decoded byte-wise as latin-1 — no CMap/ToUnicode
  remapping (sufficient for the WinAnsi/ASCII text this pipeline targets);
- a parseable PDF with NO text operators (scan-only) → ``UnsupportedPdf``
  with reason ``no_text_layer`` — never silently empty.

Everything here is a pure function of the payload bytes: the Spark UDF path
(``html_extract.extract_payload`` dispatches on the %PDF- magic) and the
DuckDB VALUES oracle call exactly this code, so the engine cannot drift from
the kernel (the repo's north-rule invariant).
"""

from __future__ import annotations

import re
import zlib

PDF_MAGIC = b"%PDF-"

_WS = b"\x00\t\n\x0c\r "

_STREAM_RE = re.compile(rb"stream\r?\n")
_FILTER_RE = re.compile(rb"/Filter\s*(?:\[\s*)?/(\w+)")
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)\b")


class UnsupportedPdf(Exception):
    """Raised when the payload is a PDF outside the supported text-layer
    subset; callers turn this into status='unsupported_format' fail-rows."""


def looks_like_pdf(payload: bytes) -> bool:
    return payload[: len(PDF_MAGIC)] == PDF_MAGIC


def _dict_before(payload: bytes, stream_pos: int) -> bytes:
    """The object dictionary ``<< ... >>`` immediately preceding a stream."""
    end = payload.rfind(b">>", 0, stream_pos)
    if end < 0:
        return b""
    depth, i = 1, end - 1
    while i > 0 and depth:
        if payload[i : i + 2] == b">>":
            depth += 1
            i -= 2
        elif payload[i : i + 2] == b"<<":
            depth -= 1
            i -= 2
        else:
            i -= 1
    return payload[max(i, 0) : end + 2]


def _streams(payload: bytes):
    """Yield (object_dict, decoded_stream_bytes) for every stream object.

    A genuine ``stream`` keyword immediately follows the object dict's
    ``>>`` — requiring that rejects lookalike byte runs inside compressed
    stream data. The direct (non-Flate) /Length integer bounds the data when
    present; otherwise fall back to the next ``endstream``.
    """
    for m in _STREAM_RE.finditer(payload):
        if not payload[: m.start()].rstrip(_WS).endswith(b">>"):
            continue
        start = m.end()
        obj = _dict_before(payload, m.start())
        lm = _LENGTH_RE.search(obj)
        end = -1
        if lm is not None:
            cand = start + int(lm.group(1))
            # accept the declared length only if endstream follows it
            if payload[cand : cand + 16].lstrip(_WS).startswith(b"endstream"):
                end = cand
        if end < 0:
            end = payload.find(b"endstream", start)
            if end < 0:
                continue
        data = payload[start:end]
        # trailing EOL before the endstream keyword is not stream data
        if data.endswith(b"\r\n"):
            data = data[:-2]
        elif data.endswith(b"\n") or data.endswith(b"\r"):
            data = data[:-1]
        fm = _FILTER_RE.search(obj)
        if fm is not None:
            name = fm.group(1)
            if name != b"FlateDecode":
                raise UnsupportedPdf(f"unsupported stream filter /{name.decode('latin-1')}")
            try:
                data = zlib.decompress(data)
            except zlib.error as exc:
                raise UnsupportedPdf(f"FlateDecode failed: {exc}") from exc
        yield obj, data


def _decode_literal(data: bytes, i: int) -> tuple[str, int]:
    """Decode a PDF literal string starting at ``data[i] == '('``."""
    assert data[i : i + 1] == b"("
    out = bytearray()
    depth = 1
    i += 1
    n = len(data)
    while i < n:
        c = data[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = data[i]
            if e in b"nrtbf":
                out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[e])
                i += 1
            elif e in b"()\\":
                out.append(e)
                i += 1
            elif 0x30 <= e <= 0x37:  # up to 3 octal digits
                oct_digits = bytearray()
                while i < n and len(oct_digits) < 3 and 0x30 <= data[i] <= 0x37:
                    oct_digits.append(data[i])
                    i += 1
                out.append(int(oct_digits.decode(), 8) & 0xFF)
            elif e in b"\r\n":  # line continuation: swallow EOL
                i += 1
                if e == 0x0D and i < n and data[i] == 0x0A:
                    i += 1
            else:  # unknown escape: the backslash is dropped (spec 7.3.4.2)
                out.append(e)
                i += 1
        elif c == 0x28:  # nested (
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:  # )
            depth -= 1
            if depth == 0:
                return out.decode("latin-1"), i + 1
            out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return out.decode("latin-1"), i


def _decode_hex(data: bytes, i: int) -> tuple[str, int]:
    assert data[i : i + 1] == b"<"
    end = data.find(b">", i + 1)
    if end < 0:
        end = len(data)
    hx = bytes(c for c in data[i + 1 : end] if c not in _WS)
    if len(hx) % 2:
        hx += b"0"  # odd count: final digit is followed by an implicit 0
    return bytes.fromhex(hx.decode("latin-1")).decode("latin-1"), end + 1


_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_OP_RE = re.compile(rb"[A-Za-z'\"][A-Za-z0-9*'\"]*")


def _content_text_lines(data: bytes) -> list[str]:
    """Tokenize one content stream → text lines in stream order.

    Operand stack discipline: strings and arrays-of-strings accumulate; a
    text-showing operator (Tj ' \" TJ) flushes onto the current line; the
    line-advance operators (Td TD T* ' \") and ET terminate the line. TJ
    kerning numbers more negative than -150/1000 em are rendered as a space
    (standard heuristic for inter-word gaps encoded as negative kerns).
    """
    lines: list[str] = []
    cur: list[str] = []
    strings: list[str] = []  # pending string operands (outermost level)
    arr: list[str] | None = None  # open TJ array accumulator
    i, n = 0, len(data)

    def end_line() -> None:
        if cur:
            line = "".join(cur).strip()
            if line:
                lines.append(line)
            cur.clear()

    while i < n:
        c = data[i : i + 1]
        if c == b"(":
            s, i = _decode_literal(data, i)
            (arr if arr is not None else strings).append(s)
        elif c == b"<" and data[i + 1 : i + 2] != b"<":
            s, i = _decode_hex(data, i)
            (arr if arr is not None else strings).append(s)
        elif c == b"<":  # inline dict <<...>> (e.g. BDC properties): skip
            i += 2
        elif c == b"[":
            arr = []
            i += 1
        elif c == b"]":
            strings.extend(arr or [])
            arr = None
            i += 1
        elif c == b"%":  # comment to EOL
            j = data.find(b"\n", i)
            i = n if j < 0 else j + 1
        elif _NUM_RE.match(data, i):
            m = _NUM_RE.match(data, i)
            if arr is not None and float(m.group()) < -150:
                arr.append(" ")  # negative kern ≈ inter-word space
            i = m.end()
        elif _OP_RE.match(data, i):
            m = _OP_RE.match(data, i)
            op = m.group()
            if op in (b"Tj", b"TJ"):
                cur.extend(strings)
                strings.clear()
            elif op in (b"'", b'"'):
                end_line()
                cur.extend(strings)
                strings.clear()
            elif op in (b"Td", b"TD", b"T*", b"ET"):
                end_line()
                strings.clear()
            elif op == b"BT":
                strings.clear()
            i = m.end()
        else:
            i += 1
    end_line()
    return lines


def extract_pdf_text(payload: bytes) -> tuple[str, list[tuple[int, int, str]]]:
    """%PDF- payload → (text, spans) from the text layer.

    One blank line between content streams (≈ pages); spans are per text line
    with label 'pdf_line' — the same output contract as the HTML/SPDF paths.
    Raises ``UnsupportedPdf`` for encrypted docs, non-Flate filters, or a PDF
    with no recoverable text operators.
    """
    if not looks_like_pdf(payload):
        raise UnsupportedPdf("missing %PDF- header")
    if b"/Encrypt" in payload:
        raise UnsupportedPdf("encrypted document")
    page_lines: list[list[str]] = []
    saw_stream = False
    for _obj, data in _streams(payload):
        saw_stream = True
        if b"BT" not in data:  # not a text content stream (image XObject etc.)
            continue
        lines = _content_text_lines(data)
        if lines:
            page_lines.append(lines)
    if not page_lines:
        raise UnsupportedPdf(
            "no_text_layer" if saw_stream else "no content streams"
        )
    spans: list[tuple[int, int, str]] = []
    offset = 0
    for p, lines in enumerate(page_lines):
        if p:
            offset += 2  # page separator "\n\n"
        for j, line in enumerate(lines):
            if j:
                offset += 1  # intra-page line separator "\n"
            spans.append((offset, offset + len(line), "pdf_line"))
            offset += len(line)
    return "\n\n".join("\n".join(lines) for lines in page_lines), spans


# ------------------------------------------------------------- generator


def encode_minimal_pdf(
    pages: list[list[str]], compress: bool = True, encrypted: bool = False
) -> bytes:
    """Serialize pages (lists of text lines) as a small valid PDF 1.4.

    Real structure — header, catalog, page tree, one FlateDecode (or raw)
    content stream per page, xref table, trailer — so the parser above is
    exercised against genuine %PDF- bytes, not a lookalike. ``encrypted``
    plants an /Encrypt entry in the trailer (enough to exercise the
    fail-loud path; no actual RC4/AES applied).
    """

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    objs: list[bytes] = []

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)  # 1-based object number

    n_pages = len(pages)
    # object layout: 1 catalog, 2 pages-tree, then per page: page, content
    kids = " ".join(f"{3 + 2 * p} 0 R" for p in range(n_pages))
    add(b"<< /Type /Catalog /Pages 2 0 R >>")
    add(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode())
    for p, lines in enumerate(pages):
        content_num = 4 + 2 * p
        add(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 {3 + 2 * n_pages} 0 R >> >> "
            f"/Contents {content_num} 0 R >>".encode()
        )
        body = ["BT", "/F1 12 Tf", "72 720 Td"]
        for j, line in enumerate(lines):
            if j:
                body.append("0 -14 Td")
            body.append(f"({esc(line)}) Tj")
        body.append("ET")
        stream = "\n".join(body).encode("latin-1")
        if compress:
            stream = zlib.compress(stream)
            filt = "/Filter /FlateDecode "
        else:
            filt = ""
        add(
            f"<< {filt}/Length {len(stream)} >>\nstream\n".encode()
            + stream
            + b"\nendstream"
        )
    add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")

    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_pos = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    enc = "/Encrypt 99 0 R " if encrypted else ""
    out += (
        f"trailer\n<< /Size {len(objs) + 1} {enc}/Root 1 0 R >>\n"
        f"startxref\n{xref_pos}\n%%EOF\n".encode()
    )
    return bytes(out)
