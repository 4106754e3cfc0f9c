"""Deterministic minimal-PDF writer (synthesis only — tests, corpus, bench).

Produces small but REAL PDFs — header, object table, page tree, xref,
trailer, optional FlateDecode, optional standard-security-handler RC4
encryption (V2/R3) — so the raw-byte scanner in ``pdf_scan`` is exercised
against genuine PDF structure rather than against its own assumptions.
This is the synthetic stand-in for the PDF bytes a crawl corpus carries
(no external data; everything derives from the caller's strings).

Not a general-purpose writer: one font, one content stream per page, no
images.  That is exactly the profile the text-layer predicate cares about.
"""

from __future__ import annotations

import zlib
from functools import lru_cache
from hashlib import md5, sha256
from typing import List, Optional, Sequence

from .pdf_scan import _PAD, rc4


def _pad_password(pw: bytes) -> bytes:
    return (pw + _PAD)[:32]


class _Encryption:
    """Standard security handler, V2/R3 (RC4-128)."""

    def __init__(self, user_pw: str = "", owner_pw: str = "owner",
                 permissions: int = -4, file_id: bytes = b"\x01" * 16,
                 keylen: int = 16) -> None:
        self.p = permissions
        self.file_id = file_id
        self.keylen = keylen
        upad = _pad_password(user_pw.encode("latin-1"))
        opad = _pad_password((owner_pw or user_pw).encode("latin-1"))
        # Algorithm 3.3: /O entry
        okey = md5(opad).digest()
        for _ in range(50):
            okey = md5(okey[:keylen]).digest()
        okey = okey[:keylen]
        o = rc4(okey, upad)
        for i in range(1, 20):
            o = rc4(bytes(b ^ i for b in okey), o)
        self.o = o
        # Algorithm 3.2: file encryption key
        key = md5(upad + self.o
                  + (self.p & 0xFFFFFFFF).to_bytes(4, "little")
                  + file_id).digest()
        for _ in range(50):
            key = md5(key[:keylen]).digest()
        self.key = key[:keylen]
        # Algorithm 3.5: /U entry (R3)
        u = md5(_PAD + file_id).digest()
        for i in range(20):
            u = rc4(bytes(b ^ i for b in self.key), u)
        self.u = u + b"\x00" * 16

    def encrypt_stream(self, data: bytes, num: int, gen: int) -> bytes:
        k = md5(self.key + num.to_bytes(3, "little")
                + gen.to_bytes(2, "little")).digest()
        return rc4(k[:min(self.keylen + 5, 16)], data)

    def dict_src(self) -> bytes:
        return (b"<< /Filter /Standard /V 2 /R 3 /Length "
                + str(self.keylen * 8).encode()
                + b" /P " + str(self.p).encode()
                + b" /O <" + self.o.hex().encode() + b">"
                + b" /U <" + self.u.hex().encode() + b"> >>")


class _EncryptionAESV2(_Encryption):
    """Standard security handler, V4/R4 with the AESV2 crypt filter
    (AES-128-CBC).  Key derivation is IDENTICAL to R3 (the parent's MD5
    machinery, keylen 16); only the per-object cipher changes: per-object
    key gains the 'sAlT' suffix, each stream is IV-prefixed CBC with
    PKCS#7 padding.  IVs are deterministic (synthesis-only writer)."""

    def encrypt_stream(self, data: bytes, num: int, gen: int) -> bytes:
        from . import aes
        k = md5(self.key + num.to_bytes(3, "little")
                + gen.to_bytes(2, "little") + b"sAlT").digest()[:16]
        iv = md5(b"iv:%d:%d" % (num, gen)).digest()[:16]
        return iv + aes.cbc_encrypt(k, iv, aes.pkcs7_pad(data))

    def dict_src(self) -> bytes:
        return (b"<< /Filter /Standard /V 4 /R 4 /Length 128"
                b" /CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen"
                b" /Length 16 >> >> /StmF /StdCF /StrF /StdCF"
                b" /P " + str(self.p).encode()
                + b" /O <" + self.o.hex().encode() + b">"
                + b" /U <" + self.u.hex().encode() + b"> >>")


class _EncryptionAESV3:
    """Standard security handler, V5 with the AESV3 crypt filter
    (AES-256-CBC), revisions 6 (ISO 32000-2 Algorithm 2.B hash) and 5
    (legacy single-SHA-256).  The 32-byte file key is used directly for
    every stream (no per-object mix); /U carries hash+validation
    salt+key salt, /UE the file key AES-wrapped under the
    intermediate-key hash.  Salts and the file key are deterministic —
    this writer only synthesizes fixtures."""

    file_id = b"\x01" * 16

    def __init__(self, user_pw: str = "", owner_pw: str = "owner",
                 permissions: int = -4, r: int = 6) -> None:
        from . import aes
        self.p = permissions
        self.r = r
        upw = user_pw.encode("utf-8")[:127]
        opw = (owner_pw or "owner").encode("utf-8")[:127]
        vs = md5(b"u-vs:" + upw).digest()[:8]
        ks = md5(b"u-ks:" + upw).digest()[:8]
        self.key = sha256(b"filekey:" + upw + b":" + opw).digest()
        if r == 6:
            uh = aes.pdf2_hash(upw, vs, b"")
            ik = aes.pdf2_hash(upw, ks, b"")
        else:
            uh = sha256(upw + vs).digest()
            ik = sha256(upw + ks).digest()
        self.u = uh + vs + ks
        self.ue = aes.cbc_encrypt(ik, b"\x00" * 16, self.key)
        ovs = md5(b"o-vs:" + opw).digest()[:8]
        oks = md5(b"o-ks:" + opw).digest()[:8]
        if r == 6:
            oh = aes.pdf2_hash(opw, ovs, self.u)
            oik = aes.pdf2_hash(opw, oks, self.u)
        else:
            oh = sha256(opw + ovs + self.u).digest()
            oik = sha256(opw + oks + self.u).digest()
        self.o = oh + ovs + oks
        self.oe = aes.cbc_encrypt(oik, b"\x00" * 16, self.key)
        # /Perms: P (4 LE) + ffffffff + 'T' (metadata encrypted) + 'adb'
        # + 4 pad bytes, AES-256-ECB under the file key
        perms = ((permissions & 0xFFFFFFFF).to_bytes(4, "little")
                 + b"\xff\xff\xff\xff" + b"Tadb" + b"\x00" * 4)
        self.perms = aes.encrypt_block_ecb(self.key, perms)

    def encrypt_stream(self, data: bytes, num: int, gen: int) -> bytes:
        from . import aes
        iv = md5(b"iv:%d:%d" % (num, gen)).digest()[:16]
        return iv + aes.cbc_encrypt(self.key, iv, aes.pkcs7_pad(data))

    def dict_src(self) -> bytes:
        return (b"<< /Filter /Standard /V 5 /R " + str(self.r).encode()
                + b" /Length 256"
                b" /CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen"
                b" /Length 32 >> >> /StmF /StdCF /StrF /StdCF"
                b" /P " + str(self.p).encode()
                + b" /O <" + self.o.hex().encode() + b">"
                + b" /U <" + self.u.hex().encode() + b">"
                + b" /OE <" + self.oe.hex().encode() + b">"
                + b" /UE <" + self.ue.hex().encode() + b">"
                + b" /Perms <" + self.perms.hex().encode() + b"> >>")


@lru_cache(maxsize=16)
def _encryption_for(kind: str, user_pw: str):
    """Build-once cache: the password-derived entries (/O /U /OE /UE)
    never depend on document content, and the R6 hash costs ~0.3 s per
    derivation — one object serves every fixture document."""
    if kind == "rc4":
        return _Encryption(user_pw=user_pw)
    if kind == "aesv2":
        return _EncryptionAESV2(user_pw=user_pw)
    if kind == "aesv3":
        return _EncryptionAESV3(user_pw=user_pw)
    if kind == "aesv3r5":
        return _EncryptionAESV3(user_pw=user_pw, r=5)
    raise ValueError(f"unknown encryption kind {kind!r}")


def _escape_literal(s: bytes) -> bytes:
    return (s.replace(b"\\", b"\\\\")
            .replace(b"(", b"\\(")
            .replace(b")", b"\\)"))


# ---------------------------------------------------------------------------
# Stream-filter encoders (the writer-side twins of pdf_scan's decoders).
# ---------------------------------------------------------------------------


def _lzw_encode(data: bytes) -> bytes:
    """PDF LZWDecode-compatible encoder: 9→12-bit MSB-first variable codes,
    clear (256) first, EOD (257) last, EarlyChange=1."""
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    acc = 0
    nacc = 0
    out = bytearray()

    def emit(code: int) -> None:
        nonlocal acc, nacc
        acc = (acc << width) | code
        nacc += width
        while nacc >= 8:
            nacc -= 8
            out.append((acc >> nacc) & 0xFF)

    emit(256)
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        table[wc] = next_code
        next_code += 1
        if next_code >= 4094:
            # table full at 12 bits: clear (decoder resets in lockstep)
            emit(256)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        # EarlyChange=1 timing, mirroring the decoder: it grows width once
        # ITS table (258 + adds, one behind ours) reaches 2^w - 1
        elif next_code >= (1 << width) and width < 12:
            width += 1
        w = bytes([ch])
    if w:
        emit(table[w])
    emit(257)
    if nacc:
        out.append((acc << (8 - nacc)) & 0xFF)
    return bytes(out)


def _run_length_encode(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 128):
        chunk = data[i:i + 128]
        out.append(len(chunk) - 1)
        out += chunk
    out.append(128)  # EOD
    return bytes(out)


# filter name → (encoder, needs `import` guard?)  Applied writer-side; the
# scanner's _decode_stream must invert each exactly (round-trip tested).
def encode_stream(data: bytes, stream_filter: Optional[str]):
    """(encoded bytes, /Filter dict fragment) for one content stream."""
    import base64
    if stream_filter is None:
        return data, b""
    if stream_filter == "flate":
        return zlib.compress(data), b"/Filter /FlateDecode "
    if stream_filter == "lzw":
        return _lzw_encode(data), b"/Filter /LZWDecode "
    if stream_filter == "ahx":
        return data.hex().encode("ascii") + b">", \
            b"/Filter /ASCIIHexDecode "
    if stream_filter == "a85":
        return base64.a85encode(data) + b"~>", b"/Filter /ASCII85Decode "
    if stream_filter == "rl":
        return _run_length_encode(data), b"/Filter /RunLengthDecode "
    if stream_filter == "jpx":
        # deliberately-unsupported filter: the payload is opaque, the
        # scanner must surface a parse warning instead of counting 0 text
        return data, b"/Filter /JPXDecode "
    raise ValueError(f"unknown stream_filter {stream_filter!r}")


def page_content(text: Optional[str]) -> bytes:
    """Content stream for one page: a Tj text-show when `text` is
    non-empty, otherwise a pure vector drawing (zero text ops — exactly the
    scanned-image profile the OCR batch exists for)."""
    if text:
        lit = _escape_literal(text.encode("latin-1", errors="replace"))
        return (b"BT /F1 12 Tf 72 720 Td (" + lit + b") Tj ET")
    return b"0 0 612 792 re f"


def build_pdf(page_texts: Sequence[Optional[str]], compress: bool = False,
              user_pw: Optional[str] = None,
              corrupt: bool = False,
              stream_filter: Optional[str] = None,
              encrypt: str = "rc4") -> bytes:
    """Build one PDF.  `page_texts[i]` is page i's shown text (None/'' →
    image-like page with no text operators).  `user_pw` switches on
    encryption (empty string = empty user password, which the scanner's
    decrypt('') attempt must accept; non-empty = the attempt must fail);
    `encrypt` picks the handler profile: 'rc4' (V2/R3), 'aesv2' (V4/R4,
    AES-128), 'aesv3' (V5/R6, AES-256) or 'aesv3r5' (V5/R5 legacy).
    `corrupt` truncates the body mid-object → structural parse failure.
    `stream_filter` selects the content-stream encoding ('flate', 'lzw',
    'ahx', 'a85', 'rl', or 'jpx' for a deliberately-undecodable stream);
    `compress=True` is the back-compat spelling of 'flate'."""
    if compress and stream_filter is None:
        stream_filter = "flate"
    enc = _encryption_for(encrypt, user_pw) if user_pw is not None else None
    n_pages = len(page_texts)
    # object numbering: 1 catalog, 2 pages, 3 font, then per page
    # (page obj, content obj)
    objs: List[bytes] = []
    kids = b" ".join(b"%d 0 R" % (4 + 2 * i) for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")                   # 1
    objs.append(b"<< /Type /Pages /Kids [" + kids + b"] /Count "
                + str(n_pages).encode() + b" >>")                        # 2
    objs.append(b"<< /Type /Font /Subtype /Type1 "
                b"/BaseFont /Helvetica >>")                              # 3
    bodies: List[bytes] = []
    for i, text in enumerate(page_texts):
        page_num = 4 + 2 * i
        content_num = page_num + 1
        objs.append(b"<< /Type /Page /Parent 2 0 R "
                    b"/MediaBox [0 0 612 792] "
                    b"/Resources << /Font << /F1 3 0 R >> >> "
                    b"/Contents %d 0 R >>" % content_num)
        data = page_content(text)
        data, filt = encode_stream(data, stream_filter)
        if enc is not None:
            data = enc.encrypt_stream(data, content_num, 0)
        bodies.append((content_num,
                       b"<< " + filt + b"/Length "
                       + str(len(data)).encode() + b" >>\nstream\n"
                       + data + b"\nendstream"))
        objs.append(None)  # placeholder; bodies carry the stream objects

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]  # object 0 is the free head
    body_by_num = dict(bodies)
    total_objs = 3 + 2 * n_pages
    enc_num = None
    if enc is not None:
        enc_num = total_objs + 1
        total_objs += 1
    for num in range(1, total_objs + 1):
        offsets.append(len(out))
        if num <= 3:
            src = objs[num - 1]
        elif enc_num is not None and num == enc_num:
            src = enc.dict_src()
        elif num % 2 == 0:  # page object
            src = objs[num - 1]
        else:
            src = body_by_num[num]
        out += b"%d 0 obj\n" % num + src + b"\nendobj\n"
    if corrupt:
        # keep the header but cut inside the very first object: no complete
        # object survives → structural PdfParseError, like a truncated fetch
        return bytes(out[:40])
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (total_objs + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<< /Size %d /Root 1 0 R" % (total_objs + 1)
    if enc is not None:
        out += b" /Encrypt %d 0 R /ID [<%s> <%s>]" % (
            enc_num, enc.file_id.hex().encode(), enc.file_id.hex().encode())
    out += b" >>\nstartxref\n%d\n%%%%EOF\n" % xref_at
    return bytes(out)


# ---------------------------------------------------------------------------
# Glyph-decoding fixtures: the font classes pdf_scan must map the way pypdf
# does (app.py:1202-1223) — a simple font remapped via /Encoding
# /Differences, and a 2-byte Type0/CID font with a /ToUnicode bfrange CMap
# (the class that MISCOUNTS 2x if chars are counted as bytes).
# ---------------------------------------------------------------------------


def _xref_trailer(out: bytearray, offsets: List[int],
                  total_objs: int) -> bytes:
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (total_objs + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (total_objs + 1, xref_at))
    return bytes(out)


def build_glyph_pdf(variant: str, codes: Sequence[int]) -> bytes:
    """One-page PDF whose show string is `codes` under a remapping font.

    variant='differences': simple Type1 font; /Encoding /Differences maps
      byte code c (97..122) to glyph /uniXXXX with XXXX = 0x3042 + (c-97)
      (hiragana), so the decoded text differs from the shown bytes.
    variant='cid': Type0 /Identity-H font, 2-byte codes shown as a hex
      string; /ToUnicode bfrange <0001><0400> → U+4E00.. (CJK ideographs).
      Char count must be len(codes), NOT 2*len(codes).
    variant='winansi': simple font with bare /Encoding /WinAnsiEncoding —
      bytes decode through cp1252 (0x91-0x94 are the smart quotes).
    variant='cid_raw': Type0 /Identity-H font with NO /ToUnicode — the
      Adobe-Identity registry: codes decode as UTF-16BE code units
      (pypdf's Identity fallback; reference parity, app.py:1202-1223),
      no warning.
    variant='cid_ucs2': Type0 font, /Encoding /UniJIS-UCS2-H (Adobe-
      Japan1 UCS-2 registry), NO /ToUnicode — the code IS the UCS-2
      code point by the CMap's definition: decodes to real characters,
      no warning.
    variant='cid_rksj': Type0 font, /Encoding /90ms-RKSJ-H (Shift-JIS
      code space), NO /ToUnicode — `codes` are UNICODE code points,
      encoded to the show string via cp932 (exactly what a RKSJ writer
      emits): the scanner decodes them back through the code-space
      codec, real characters, no warning.
    variant='cid_unknown': Type0 font naming a registry in NO table
      (/Bogus-CMap-H), NO /ToUnicode — the genuinely unmapped boundary:
      codes decode to U+FFFD and the scanner must surface a page
      warning.
    """
    objs: List[bytes] = [b""]  # 1-indexed

    def add(src: bytes) -> int:
        objs.append(src)
        return len(objs) - 1

    add(b"<< /Type /Catalog /Pages 2 0 R >>")        # 1
    add(b"")                                          # 2 pages (fixed below)
    if variant == "differences":
        diff_names = b" ".join(
            b"/uni%04X" % (0x3042 + c) for c in range(26))
        font = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Remapped "
                b"/Encoding << /Differences [97 " + diff_names + b"] >> >>")
        font_num = add(font)
        lit = _escape_literal(bytes(codes))
        content = b"BT /F1 12 Tf 72 720 Td (" + lit + b") Tj ET"
    elif variant == "cid":
        cmap = (b"/CIDInit /ProcSet findresource begin\n"
                b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
                b"1 beginbfrange\n<0001> <0400> <4E00>\nendbfrange\n"
                b"end\n")
        tu_num = add(b"<< /Length " + str(len(cmap)).encode()
                     + b" >>\nstream\n" + cmap + b"\nendstream")
        font_num = add(b"<< /Type /Font /Subtype /Type0 "
                       b"/BaseFont /RemappedCID /Encoding /Identity-H "
                       b"/ToUnicode " + str(tu_num).encode() + b" 0 R >>")
        hx = b"".join(b"%04X" % c for c in codes)
        content = b"BT /F1 12 Tf 72 720 Td <" + hx + b"> Tj ET"
    elif variant == "winansi":
        font_num = add(b"<< /Type /Font /Subtype /Type1 "
                       b"/BaseFont /Helvetica "
                       b"/Encoding /WinAnsiEncoding >>")
        lit = _escape_literal(bytes(codes))
        content = b"BT /F1 12 Tf 72 720 Td (" + lit + b") Tj ET"
    elif variant == "cid_raw":
        font_num = add(b"<< /Type /Font /Subtype /Type0 "
                       b"/BaseFont /NoMapCID /Encoding /Identity-H >>")
        hx = b"".join(b"%04X" % c for c in codes)
        content = b"BT /F1 12 Tf 72 720 Td <" + hx + b"> Tj ET"
    elif variant == "cid_ucs2":
        font_num = add(b"<< /Type /Font /Subtype /Type0 "
                       b"/BaseFont /UCS2CID /Encoding /UniJIS-UCS2-H >>")
        hx = b"".join(b"%04X" % c for c in codes)
        content = b"BT /F1 12 Tf 72 720 Td <" + hx + b"> Tj ET"
    elif variant == "cid_rksj":
        font_num = add(b"<< /Type /Font /Subtype /Type0 "
                       b"/BaseFont /LegacyCID /Encoding /90ms-RKSJ-H >>")
        sjis = "".join(chr(c) for c in codes).encode("cp932")
        hx = sjis.hex().upper().encode("ascii")
        content = b"BT /F1 12 Tf 72 720 Td <" + hx + b"> Tj ET"
    elif variant == "cid_unknown":
        font_num = add(b"<< /Type /Font /Subtype /Type0 "
                       b"/BaseFont /NoTableCID /Encoding /Bogus-CMap-H >>")
        hx = b"".join(b"%04X" % c for c in codes)
        content = b"BT /F1 12 Tf 72 720 Td <" + hx + b"> Tj ET"
    else:
        raise ValueError(f"unknown glyph variant {variant!r}")
    content_num = add(b"<< /Length " + str(len(content)).encode()
                      + b" >>\nstream\n" + content + b"\nendstream")
    page_num = add(b"<< /Type /Page /Parent 2 0 R "
                   b"/MediaBox [0 0 612 792] "
                   b"/Resources << /Font << /F1 " + str(font_num).encode()
                   + b" 0 R >> >> /Contents " + str(content_num).encode()
                   + b" 0 R >>")
    objs[2] = (b"<< /Type /Pages /Kids [" + str(page_num).encode()
               + b" 0 R] /Count 1 >>")

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for num in range(1, len(objs)):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    return _xref_trailer(out, offsets, len(objs) - 1)


def build_objstm_pdf(page_texts: Sequence[Optional[str]]) -> bytes:
    """PDF-1.5-style layout: catalog, page tree, and font dicts live inside
    a FlateDecode /ObjStm — a plain `N G obj` scan sees ZERO pages unless
    it expands object streams (pdf_scan._expand_object_streams).  Content
    streams stay top-level (streams cannot live inside an ObjStm)."""
    n_pages = len(page_texts)
    # numbering: 1 catalog, 2 pages, 3 font (all inside the ObjStm),
    # 4..3+n content streams (top-level), 4+n the ObjStm itself
    inner: List[bytes] = []
    kids = b" ".join(b"%d 0 R" % (100 + i) for i in range(n_pages))
    inner.append((1, b"<< /Type /Catalog /Pages 2 0 R >>"))
    inner.append((2, b"<< /Type /Pages /Kids [" + kids + b"] /Count "
                  + str(n_pages).encode() + b" >>"))
    inner.append((3, b"<< /Type /Font /Subtype /Type1 "
                  b"/BaseFont /Helvetica >>"))
    contents: List[bytes] = []
    for i, text in enumerate(page_texts):
        content_num = 4 + i
        inner.append((100 + i,
                      b"<< /Type /Page /Parent 2 0 R "
                      b"/MediaBox [0 0 612 792] "
                      b"/Resources << /Font << /F1 3 0 R >> >> "
                      b"/Contents %d 0 R >>" % content_num))
        contents.append(page_content(text))
    # assemble the ObjStm payload: "num off num off ..." header + bodies
    bodies = [src for _, src in inner]
    offs = []
    pos = 0
    for b in bodies:
        offs.append(pos)
        pos += len(b) + 1
    header = b" ".join(b"%d %d" % (num, off)
                       for (num, _), off in zip(inner, offs)) + b"\n"
    payload = header + b"\n".join(bodies) + b"\n"
    first = len(header)
    packed = zlib.compress(payload)
    objstm_num = 4 + n_pages + 100  # any free number above the page ids
    objstm = (b"<< /Type /ObjStm /N " + str(len(inner)).encode()
              + b" /First " + str(first).encode()
              + b" /Filter /FlateDecode /Length "
              + str(len(packed)).encode() + b" >>\nstream\n" + packed
              + b"\nendstream")

    out = bytearray(b"%PDF-1.5\n")
    top: List[bytes] = []
    for i, content in enumerate(contents):
        top.append((4 + i, b"<< /Length " + str(len(content)).encode()
                    + b" >>\nstream\n" + content + b"\nendstream"))
    top.append((objstm_num, objstm))
    for num, src in top:
        out += b"%d 0 obj\n" % num + src + b"\nendobj\n"
    # minimal trailer: the scanner never walks xref, it only needs /Root
    out += b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
    return bytes(out)


# ---------------------------------------------------------------------------
# Searchable-PDF sink writer (S6/S7): invisible text overlay (render mode 3,
# the reference's setTextRenderMode(3), app.py:2141/2213/2240), optional
# page image embedded via DCTDecode PASSTHROUGH — the JPEG bytes go into the
# stream verbatim, so no codec is needed on either side.
# ---------------------------------------------------------------------------


def _fmt(v: float) -> bytes:
    """PDF number: fixed 2-decimal, trailing-zero-free."""
    s = f"{float(v):.2f}".rstrip("0").rstrip(".")
    return (s or "0").encode("ascii")


def _escape_literal_bytes(b: bytes) -> bytes:
    return (b.replace(b"\\", b"\\\\")
            .replace(b"(", b"\\(")
            .replace(b")", b"\\)"))


def overlay_content(ops, width_pt: float, height_pt: float,
                    has_image: bool) -> bytes:
    """Content stream for one page of draw ops from pdf_overlay.
    Hidden-text bytes are UTF-8 inside the literal string — the single-byte
    Helvetica caveat is cosmetic (the layer is invisible); extractors see
    the exact bytes back."""
    parts = []
    if has_image:
        parts.append(b"q " + _fmt(width_pt) + b" 0 0 " + _fmt(height_pt)
                     + b" 0 0 cm /Im0 Do Q")
    for op in ops:
        lit = _escape_literal_bytes(op["text"].encode("utf-8"))
        size = _fmt(op["size"])
        if op["kind"] == "vtext":
            # translate + rotate(-90): cm matrix [0 -1 1 0 0 0]
            parts.append(
                b"q 1 0 0 1 " + _fmt(op["tx"]) + b" " + _fmt(op["ty"])
                + b" cm 0 -1 1 0 0 0 cm BT 3 Tr 0 Tc /F1 " + size
                + b" Tf 1 0 0 1 0 0 Tm (" + lit + b") Tj ET Q")
        else:
            parts.append(
                b"BT 3 Tr 0 Tc /F1 " + size + b" Tf 1 0 0 1 "
                + _fmt(op["x"]) + b" " + _fmt(op["y"]) + b" Tm ("
                + lit + b") Tj ET")
    return b"\n".join(parts)


def jpeg_size(data: bytes):
    """(width, height) from JPEG SOF0/2 markers; (1, 1) if unparseable."""
    i = 2
    n = len(data)
    while i + 9 < n and data[i] == 0xFF:
        marker = data[i + 1]
        seg_len = int.from_bytes(data[i + 2:i + 4], "big")
        if marker in (0xC0, 0xC1, 0xC2, 0xC3):
            h = int.from_bytes(data[i + 5:i + 7], "big")
            w = int.from_bytes(data[i + 7:i + 9], "big")
            return w, h
        i += 2 + seg_len
    return 1, 1


def build_searchable_pdf(pages) -> bytes:
    """One searchable PDF from page specs:
    ``{"width_pt", "height_pt", "ops": [...], "jpeg": bytes|None}``.
    Structure: per page one content stream (image paint + invisible text)
    and, when a JPEG is given, one DCTDecode image XObject carrying the
    original bytes untouched."""
    objs: list = [None]  # 1-indexed object sources
    kids: list = []

    def add(src: bytes) -> int:
        objs.append(src)
        return len(objs) - 1

    catalog_num = add(b"")   # placeholders fixed up after numbering
    pages_num = add(b"")
    font_num = add(b"<< /Type /Font /Subtype /Type1 "
                   b"/BaseFont /Helvetica >>")
    for spec in pages:
        jpeg = spec.get("jpeg")
        img_num = None
        if jpeg is not None:
            w, h = jpeg_size(jpeg)
            img_num = add(b"<< /Type /XObject /Subtype /Image /Width "
                          + str(w).encode() + b" /Height " + str(h).encode()
                          + b" /ColorSpace /DeviceRGB /BitsPerComponent 8 "
                          b"/Filter /DCTDecode /Length "
                          + str(len(jpeg)).encode() + b" >>\nstream\n"
                          + jpeg + b"\nendstream")
        content = overlay_content(spec.get("ops", []),
                                  spec["width_pt"], spec["height_pt"],
                                  has_image=img_num is not None)
        content_num = add(b"<< /Length " + str(len(content)).encode()
                          + b" >>\nstream\n" + content + b"\nendstream")
        res = b"/Resources << /Font << /F1 " + str(font_num).encode() \
            + b" 0 R >>"
        if img_num is not None:
            res += b" /XObject << /Im0 " + str(img_num).encode() + b" 0 R >>"
        res += b" >>"
        page_num = add(b"<< /Type /Page /Parent " + str(pages_num).encode()
                       + b" 0 R /MediaBox [0 0 " + _fmt(spec["width_pt"])
                       + b" " + _fmt(spec["height_pt"]) + b"] " + res
                       + b" /Contents " + str(content_num).encode()
                       + b" 0 R >>")
        kids.append(page_num)

    objs[catalog_num] = (b"<< /Type /Catalog /Pages "
                         + str(pages_num).encode() + b" 0 R >>")
    objs[pages_num] = (b"<< /Type /Pages /Kids ["
                       + b" ".join(b"%d 0 R" % k for k in kids)
                       + b"] /Count " + str(len(kids)).encode() + b" >>")

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for num in range(1, len(objs)):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % len(objs)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (len(objs), xref_at))
    return bytes(out)
