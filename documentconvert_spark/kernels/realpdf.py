"""Real-PDF text+layout extractor — from scratch, no PDF or codec library.

The reference converts real PDFs through MinerU 2.0's GPU pipeline
(`services/document_service.py:187-392`: bytes → ``pipeline_doc_analyze`` →
``middle_json`` pages/blocks/lines/spans → ``MakeMode.MM_MD``). This module
is the engine's own CPU implementation of the same observable computation
for *actual* PDF files (e.g. the reference's own sample corpus in
`/root/reference/test/`): parse the PDF object graph, interpret page
content streams into positioned text runs, then run the identical
line→block segmentation / font-metric classification the mini-PDF kernel
uses, emitting the ordered span IR.

Built purely from the public PDF 1.7 specification (ISO 32000-1):
  - classic xref tables + /Prev chains, and xref *streams* (W-decoded,
    PNG Up/Sub/Paeth predictors) with object streams (/ObjStm);
  - object lexer: dicts, arrays, names (#xx escapes), literal and hex
    strings, refs, numbers, streams (/Length possibly indirect);
  - stream filters: FlateDecode (zlib), LZWDecode (from-scratch, ISO
    32000 §7.4.4), RunLengthDecode, ASCIIHexDecode, ASCII85Decode;
    image-only filters (DCT/CCITT/JBIG2/JPX) raise and are contained
    per-row as error rows (C7);
  - text extraction: BT/ET, Tf/Tm/Td/TD/T*/TL/', ", Tj/TJ, q/Q/cm,
    Form XObject recursion, Image XObjects → figure spans;
  - glyph decode: ToUnicode CMaps (bfchar/bfrange, both forms), 2-byte
    CIDs for Type0/Identity-H, /Differences name tables for simple fonts,
    latin-1 fallback;
  - encryption (§7.6 standard security handler, empty user password):
    RC4 40-/128-bit (V 1-2, R 2-3), crypt filters /V2 and /AESV2
    (V4/R4), and AES-256 (V5/R6, ISO 32000-2 Algorithm 2.B KDF) with a
    from-scratch FIPS-197 AES; keys are validated against /U, and
    genuinely password-protected documents raise → error rows (C7).

No state is kept across documents — deterministic for any Arrow batching.
"""

from __future__ import annotations

import math
import re
import zlib

import numpy as np

from documentconvert_spark.kernels import limits
from documentconvert_spark.kernels.limits import _lzw_decode, inflate_capped
from documentconvert_spark.kernels.raster import _unfilter, image_media_ref
from documentconvert_spark.kernels.spans import (
    MATH_FONT_RE,
    MONO_FONT_RE,
    Span,
    finalize,
    normalize_text,
    rank_heading_levels,
)

_WS = frozenset(b"\x00\t\n\x0c\r ")


class _Name(str):
    """PDF name object (distinct from strings)."""


class _Ref(tuple):
    """Indirect reference (num, gen)."""


def _skip_ws(data: bytes, i: int) -> int:
    n = len(data)
    while i < n:
        c = data[i]
        if c in _WS:
            i += 1
        elif c == 0x25:  # '%' comment
            while i < n and data[i] not in (0x0A, 0x0D):
                i += 1
        else:
            break
    return i


# shared grammar fragments — the single source of truth the tokenizer
# regexes below are composed from
_WSC = rb"(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)*+"  # ws/comments; POSSESSIVE so a
# trailing comment at end-of-input cannot backtrack a byte into the token
# alternatives and re-lex comment text as a token
_NAME_CLS = rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]"  # name/operator-word bytes
_NUM_PAT = rb"[+-]?(?:\d+\.?\d*|\.\d+)"
# number capture optionally followed by "<gen> R" — one match replaces the
# number-match + ws-skip + ref-lookahead triple on the hot path (large
# Widths/W arrays parse tens of thousands of numbers per document)
_NUMREF_PAT = (rb"(" + _NUM_PAT + rb")"
               rb"(?:[\x00\t\n\x0c\r ]+(\d+)[\x00\t\n\x0c\r ]+R(?![a-zA-Z]))?")

_NUMREF_RE = re.compile(_NUMREF_PAT)

# array-element step: leading ws/comments + number[-ref] | /name | ']' |
# escape-free (string) | run-together <hex> — the last two cover the string
# halves of TJ kerning arrays; escaped/nested strings and ws-split hex fall
# through to the per-kind parsers.
_ARR_TOK_RE = re.compile(
    _WSC
    + rb"(?:" + _NUMREF_PAT
    + rb"|/(" + _NAME_CLS + rb"*)"
    rb"|(\])"
    rb"|\(([^()\\]*)\)"
    rb"|<([0-9A-Fa-f]*)>)"
)


def _parse_object(data: bytes, i: int, refs: bool = True):
    """Parse one object at i → (value, next_index). refs=False disables
    the 'N G R' indirect-reference lookahead — content streams contain no
    refs, and the lookahead per integer operand is the tokenizer's single
    largest cost on text-dense pages."""
    i = _skip_ws(data, i)
    c = data[i : i + 1]
    if c == b"<":
        if data[i + 1 : i + 2] == b"<":
            return _parse_dict(data, i, refs)
        return _parse_hex_string(data, i)
    if c == b"(":
        return _parse_lit_string(data, i)
    if c == b"/":
        return _parse_name(data, i)
    if c == b"[":
        i += 1
        arr = []
        append = arr.append
        n = len(data)
        # one compiled step per element for the homogeneous runs that
        # dominate real documents: TJ kerning arrays (thousands of
        # string/number pairs per text-dense page), font /Widths and CID
        # /W number arrays, and /Differences glyph-name arrays (hundreds
        # of entries per embedded font). Strings/refs/nesting fall through
        # to the per-kind parsers.
        match = _ARR_TOK_RE.match
        while True:
            m = match(data, i)
            if m is not None:
                num, gen, name, close, lit, hexs = m.group(1, 2, 3, 4, 5, 6)
                if num is not None:
                    if refs and gen is not None and num.isdigit():
                        append(_Ref((int(num), int(gen))))
                        i = m.end()
                    else:
                        append(float(num) if b"." in num else int(num))
                        i = m.end(1)
                    continue
                if lit is not None:
                    append(lit)
                    i = m.end()
                    continue
                if hexs is not None:
                    if len(hexs) % 2:
                        hexs += b"0"
                    append(bytes.fromhex(hexs.decode("ascii")))
                    i = m.end()
                    continue
                if close is not None:
                    return arr, m.end()
                append(_name_of(name))
                i = m.end()
                continue
            i = _skip_ws(data, i)
            if i >= n:
                raise ValueError("pdf: unterminated array")
            b0 = data[i]
            if b0 == 0x28:  # '(string)'
                v, i = _parse_lit_string(data, i)
                append(v)
                continue
            if b0 == 0x3C and data[i + 1 : i + 2] != b"<":
                v, i = _parse_hex_string(data, i)
                append(v)
                continue
            v, i = _parse_object(data, i, refs)
            append(v)
    if data.startswith(b"true", i):
        return True, i + 4
    if data.startswith(b"false", i):
        return False, i + 5
    if data.startswith(b"null", i):
        return None, i + 4
    m = _NUMREF_RE.match(data, i)
    if m:
        tok = m.group(1)
        if refs and m.group(2) is not None and tok.isdigit():
            return _Ref((int(tok), int(m.group(2)))), m.end()
        j = m.end(1)
        return (float(tok) if b"." in tok else int(tok)), j
    raise ValueError(f"pdf: unparsable object at byte {i}: {data[i:i+20]!r}")


_NAME_RE = re.compile(rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]*")

# raw name bytes -> interned _Name. Names repeat constantly (/Type /Font
# /Widths /F1 ...) across dicts, pages, AND documents — the values are
# pure functions of the bytes, so a module-level cache is safe to share
# across tasks; capped so hostile inputs can't grow it unboundedly.
_NAME_CACHE: dict[bytes, "_Name"] = {}


def _name_of(raw: bytes) -> "_Name":
    v = _NAME_CACHE.get(raw)
    if v is None:
        dec = raw
        if b"#" in raw:
            dec = re.sub(rb"#([0-9A-Fa-f]{2})", lambda mm: bytes([int(mm.group(1), 16)]), raw)
        v = _Name(dec.decode("latin-1"))
        if len(_NAME_CACHE) < 8192:
            _NAME_CACHE[raw] = v
    return v


def _parse_name(data: bytes, i: int):
    m = _NAME_RE.match(data, i + 1)
    return _name_of(m.group(0)), m.end()


def _parse_hex_string(data: bytes, i: int):
    j = data.index(b">", i)
    hx = re.sub(rb"[^0-9A-Fa-f]", b"", data[i + 1 : j])
    if len(hx) % 2:
        hx += b"0"
    return bytes.fromhex(hx.decode("ascii")), j + 1


_ESC = {0x6E: b"\n", 0x72: b"\r", 0x74: b"\t", 0x62: b"\b", 0x66: b"\x0c",
        0x28: b"(", 0x29: b")", 0x5C: b"\\"}


def _parse_lit_string(data: bytes, i: int):
    i += 1
    depth = 1
    out = bytearray()
    n = len(data)
    while i < n:
        c = data[i]
        if c == 0x5C:  # backslash
            nxt = data[i + 1]
            if 0x30 <= nxt <= 0x37:  # octal, up to 3 digits
                j = i + 1
                oct_s = b""
                while j < n and len(oct_s) < 3 and 0x30 <= data[j] <= 0x37:
                    oct_s += data[j : j + 1]
                    j += 1
                out.append(int(oct_s, 8) & 0xFF)
                i = j
                continue
            if nxt in (0x0A, 0x0D):  # line continuation
                i += 2
                if nxt == 0x0D and data[i : i + 1] == b"\n":
                    i += 1
                continue
            out += _ESC.get(nxt, data[i + 1 : i + 2])
            i += 2
            continue
        if c == 0x28:
            depth += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), i + 1
        out.append(c)
        i += 1
    raise ValueError("pdf: unterminated string")


# dict-entry step: leading ws/comments + ('>>' | /key [number[-ref] | /name])
# — one compiled match covers the '/Key 123', '/Key 5 0 R', and '/Key/Name'
# entries that make up most of every real dict; container/string/bool values
# fall through to the general parser.
_DICT_TOK_RE = re.compile(
    _WSC
    + rb"(?:(>>)"
    rb"|/(" + _NAME_CLS + rb"*)"
    + rb"(?:" + _WSC
    + rb"(?:" + _NUMREF_PAT
    + rb"|/(" + _NAME_CLS + rb"*)))?)"
)


def _parse_dict(data: bytes, i: int, refs: bool = True):
    i += 2
    d = {}
    match = _DICT_TOK_RE.match
    while True:
        m = match(data, i)
        if m is None:
            # neither '>>' nor a '/key' next: malformed — surface the same
            # error the general parser would
            i = _skip_ws(data, i)
            raise ValueError(f"pdf: unparsable dict entry at byte {i}: {data[i:i+20]!r}")
        close, rawkey, num, gen, valname = m.group(1, 2, 3, 4, 5)
        if close is not None:
            return d, m.end()
        key = _name_of(rawkey)
        if num is not None:
            if refs and gen is not None and num.isdigit():
                d[key] = _Ref((int(num), int(gen)))
                i = m.end()
            else:
                d[key] = float(num) if b"." in num else int(num)
                i = m.end(3)
            continue
        if valname is not None:
            d[key] = _name_of(valname)
            i = m.end()
            continue
        val, i = _parse_object(data, m.end(2), refs)
        d[key] = val


def _rle_decode(raw: bytes) -> bytes:
    """RunLengthDecode (ISO 32000 §7.4.5): <128 → copy n+1 literal bytes,
    >128 → repeat next byte 257-n times, 128 → EOD."""
    out = bytearray()
    i, n = 0, len(raw)
    cap = limits.MAX_DECODED_BYTES  # read once per call (hot loop)
    while i < n:
        length = raw[i]
        if length == 128:
            break
        if length < 128:
            out += raw[i + 1 : i + 2 + length]
            i += 2 + length
        else:
            out += raw[i + 1 : i + 2] * (257 - length)
            i += 2
        if len(out) > cap:
            raise ValueError("pdf rle: decoded size over cap")
    return bytes(out)


def _png_unpredict(raw: bytes, colors: int, columns: int) -> bytes:
    """Reverse PNG row predictors (used by xref streams, /Predictor >= 10)
    through the PNG decoder's row unfilter. `colors` is the byte step of
    the left neighbor; a filter byte above 4 leaves its row as stored, and
    a short last row unfilters as the prefix of a full one."""
    row_len = colors * columns
    # /Columns is file-controlled: a crafted value is a multi-GB
    # allocation, not a parse error — a real file's row never exceeds
    # the data that encodes it
    if row_len > len(raw):
        raise ValueError("pdf: predictor row wider than stream data")
    if not row_len:
        return b""
    if colors < 0 or columns < 0:
        raise ValueError("pdf: negative predictor parameters")
    out = bytearray()
    prev = np.zeros(row_len, dtype=np.uint8)
    for i in range(0, len(raw), row_len + 1):
        stored = raw[i + 1:i + 1 + row_len]
        row = np.zeros(row_len, dtype=np.uint8)
        row[:len(stored)] = np.frombuffer(stored, dtype=np.uint8)
        prev = _unfilter(raw[i], row, prev, colors) if raw[i] <= 4 else row
        out += prev[:len(stored)].tobytes()
    return bytes(out)


def _rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % klen]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for k, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[k] = c ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


# ISO 32000 §7.6.3.3 Algorithm 2 password pad
_ENC_PAD = bytes.fromhex(
    "28BF4E5E4E758A4164004E56FFFA01082E2E00B6D0683E802F0CA9FE6453697A")

# -- AES (FIPS-197, from scratch; needed for /AESV2 and /AESV3 crypt
# filters plus the R6 key-derivation hash of ISO 32000-2) -------------------

_AES_SBOX = bytes.fromhex(
    "637c777bf26b6fc53001672bfed7ab76"
    "ca82c97dfa5947f0add4a2af9ca472c0"
    "b7fd9326363ff7cc34a5e5f171d83115"
    "04c723c31896059a071280e2eb27b275"
    "09832c1a1b6e5aa0523bd6b329e32f84"
    "53d100ed20fcb15b6acbbe394a4c58cf"
    "d0efaafb434d338545f9027f503c9fa8"
    "51a3408f929d38f5bcb6da2110fff3d2"
    "cd0c13ec5f974417c4a77e3d645d1973"
    "60814fdc222a908846eeb814de5e0bdb"
    "e0323a0a4906245cc2d3ac629195e479"
    "e7c8376d8dd54ea96c56f4ea657aae08"
    "ba78252e1ca6b4c6e8dd741f4bbd8b8a"
    "703eb5664803f60e613557b986c11d9e"
    "e1f8981169d98e949b1e87e9ce5528df"
    "8ca1890dbfe6426841992d0fb054bb16")
_AES_INV_SBOX = bytes(sorted(range(256), key=lambda v: _AES_SBOX[v]))
_AES_RCON = (0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36)


def _gmul(a: int, b: int) -> int:
    r = 0
    while b:
        if b & 1:
            r ^= a
        a = (a << 1) ^ (0x11B if a & 0x80 else 0)
        b >>= 1
    return r & 0xFF


_M2 = bytes(_gmul(x, 2) for x in range(256))
_M3 = bytes(_gmul(x, 3) for x in range(256))
_M9 = bytes(_gmul(x, 9) for x in range(256))
_M11 = bytes(_gmul(x, 11) for x in range(256))
_M13 = bytes(_gmul(x, 13) for x in range(256))
_M14 = bytes(_gmul(x, 14) for x in range(256))


# T-table AES (the classic 32-bit-word formulation of FIPS-197): each
# table entry folds SubBytes + the MixColumns column contribution into
# one lookup, so a round is 16 table hits + xors instead of per-byte
# matrix math. Measured ~5× per block over the naive per-byte version
# (26.5 µs vs ~133 µs for AES-256 on this box) —
# it is THE hot loop of encrypted-PDF extraction (every stream decrypt,
# and ~70 CBC passes per R6 KDF evaluation). Verified against the
# FIPS-197 Appendix C vectors (test_kernels pins both key sizes).

def _build_enc_tables():
    t0, t1, t2, t3 = [], [], [], []
    for x in range(256):
        s = _AES_SBOX[x]
        s2, s3 = _M2[s], _M3[s]
        t0.append((s2 << 24) | (s << 16) | (s << 8) | s3)
        t1.append((s3 << 24) | (s2 << 16) | (s << 8) | s)
        t2.append((s << 24) | (s3 << 16) | (s2 << 8) | s)
        t3.append((s << 24) | (s << 16) | (s3 << 8) | s2)
    return tuple(t0), tuple(t1), tuple(t2), tuple(t3)


def _build_dec_tables():
    d0, d1, d2, d3 = [], [], [], []
    for x in range(256):
        s = _AES_INV_SBOX[x]
        e, b, d, n = _M14[s], _M11[s], _M13[s], _M9[s]
        d0.append((e << 24) | (n << 16) | (d << 8) | b)
        d1.append((b << 24) | (e << 16) | (n << 8) | d)
        d2.append((d << 24) | (b << 16) | (e << 8) | n)
        d3.append((n << 24) | (d << 16) | (b << 8) | e)
    return tuple(d0), tuple(d1), tuple(d2), tuple(d3)


_TE0, _TE1, _TE2, _TE3 = _build_enc_tables()
_TD0, _TD1, _TD2, _TD3 = _build_dec_tables()


def _aes_expand(key: bytes):
    """Round keys as big-endian 32-bit column words (FIPS-197 w[i])."""
    nk = len(key) // 4
    rounds = nk + 6
    w = [int.from_bytes(key[4 * i : 4 * i + 4], "big") for i in range(nk)]
    for i in range(nk, 4 * (rounds + 1)):
        t = w[i - 1]
        if i % nk == 0:
            t = ((t << 8) | (t >> 24)) & 0xFFFFFFFF  # RotWord
            t = ((_AES_SBOX[t >> 24] << 24) | (_AES_SBOX[(t >> 16) & 0xFF] << 16)
                 | (_AES_SBOX[(t >> 8) & 0xFF] << 8) | _AES_SBOX[t & 0xFF])
            t ^= _AES_RCON[i // nk - 1] << 24
        elif nk > 6 and i % nk == 4:
            t = ((_AES_SBOX[t >> 24] << 24) | (_AES_SBOX[(t >> 16) & 0xFF] << 16)
                 | (_AES_SBOX[(t >> 8) & 0xFF] << 8) | _AES_SBOX[t & 0xFF])
        w.append(w[i - nk] ^ t)
    return w, rounds


def _aes_dec_expand(key: bytes):
    """Equivalent-inverse-cipher schedule: encryption round keys reversed
    by round, middle rounds passed through InvMixColumns."""
    w, rounds = _aes_expand(key)
    dk = []
    for rnd in range(rounds, -1, -1):
        for j in range(4):
            word = w[4 * rnd + j]
            if 0 < rnd < rounds:
                a0, a1, a2, a3 = (word >> 24, (word >> 16) & 0xFF,
                                  (word >> 8) & 0xFF, word & 0xFF)
                word = (((_M14[a0] ^ _M11[a1] ^ _M13[a2] ^ _M9[a3]) << 24)
                        | ((_M9[a0] ^ _M14[a1] ^ _M11[a2] ^ _M13[a3]) << 16)
                        | ((_M13[a0] ^ _M9[a1] ^ _M14[a2] ^ _M11[a3]) << 8)
                        | (_M11[a0] ^ _M13[a1] ^ _M9[a2] ^ _M14[a3]))
            dk.append(word)
    return dk, rounds


def _aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """CBC encrypt, NO padding (len(data) must be a block multiple) —
    used by the R6 KDF and the test-side encryptor.

    The round loop is inlined at 32-bit-word level with the chaining XOR
    folded into the initial AddRoundKey, so no per-block function call
    and no bytes round-trip between blocks — the R6 KDF pushes ~18k
    sequential blocks per password check through this exact loop."""
    w, rounds = _aes_expand(key)
    t0, t1, t2, t3 = _TE0, _TE1, _TE2, _TE3
    sb = _AES_SBOX
    fb = int.from_bytes
    p0 = fb(iv[0:4], "big")
    p1 = fb(iv[4:8], "big")
    p2 = fb(iv[8:12], "big")
    p3 = fb(iv[12:16], "big")
    out = bytearray()
    for i in range(0, len(data), 16):
        s0 = fb(data[i : i + 4], "big") ^ p0 ^ w[0]
        s1 = fb(data[i + 4 : i + 8], "big") ^ p1 ^ w[1]
        s2 = fb(data[i + 8 : i + 12], "big") ^ p2 ^ w[2]
        s3 = fb(data[i + 12 : i + 16], "big") ^ p3 ^ w[3]
        k = 4
        for _ in range(rounds - 1):
            u0 = t0[s0 >> 24] ^ t1[(s1 >> 16) & 0xFF] ^ t2[(s2 >> 8) & 0xFF] ^ t3[s3 & 0xFF] ^ w[k]
            u1 = t0[s1 >> 24] ^ t1[(s2 >> 16) & 0xFF] ^ t2[(s3 >> 8) & 0xFF] ^ t3[s0 & 0xFF] ^ w[k + 1]
            u2 = t0[s2 >> 24] ^ t1[(s3 >> 16) & 0xFF] ^ t2[(s0 >> 8) & 0xFF] ^ t3[s1 & 0xFF] ^ w[k + 2]
            u3 = t0[s3 >> 24] ^ t1[(s0 >> 16) & 0xFF] ^ t2[(s1 >> 8) & 0xFF] ^ t3[s2 & 0xFF] ^ w[k + 3]
            s0, s1, s2, s3 = u0, u1, u2, u3
            k += 4
        p0 = ((sb[s0 >> 24] << 24) | (sb[(s1 >> 16) & 0xFF] << 16)
              | (sb[(s2 >> 8) & 0xFF] << 8) | sb[s3 & 0xFF]) ^ w[k]
        p1 = ((sb[s1 >> 24] << 24) | (sb[(s2 >> 16) & 0xFF] << 16)
              | (sb[(s3 >> 8) & 0xFF] << 8) | sb[s0 & 0xFF]) ^ w[k + 1]
        p2 = ((sb[s2 >> 24] << 24) | (sb[(s3 >> 16) & 0xFF] << 16)
              | (sb[(s0 >> 8) & 0xFF] << 8) | sb[s1 & 0xFF]) ^ w[k + 2]
        p3 = ((sb[s3 >> 24] << 24) | (sb[(s0 >> 16) & 0xFF] << 16)
              | (sb[(s1 >> 8) & 0xFF] << 8) | sb[s2 & 0xFF]) ^ w[k + 3]
        out += p0.to_bytes(4, "big")
        out += p1.to_bytes(4, "big")
        out += p2.to_bytes(4, "big")
        out += p3.to_bytes(4, "big")
    return bytes(out)


def _aes_cbc_decrypt_raw(key: bytes, iv: bytes, data: bytes) -> bytes:
    """CBC decrypt with explicit IV, no padding strip (the /UE and /OE
    key-wrap blobs use CBC-NoPadding with a zero IV).

    Same word-level inlining as the encrypt chain — this is the loop
    every AESV2/AESV3 content stream rides, so a multi-MB encrypted
    stream decrypts without a per-block call or bytes round-trip."""
    dk, rounds = _aes_dec_expand(key)
    d0, d1, d2, d3 = _TD0, _TD1, _TD2, _TD3
    isb = _AES_INV_SBOX
    fb = int.from_bytes
    p0 = fb(iv[0:4], "big")
    p1 = fb(iv[4:8], "big")
    p2 = fb(iv[8:12], "big")
    p3 = fb(iv[12:16], "big")
    out = bytearray()
    for i in range(0, len(data), 16):
        c0 = fb(data[i : i + 4], "big")
        c1 = fb(data[i + 4 : i + 8], "big")
        c2 = fb(data[i + 8 : i + 12], "big")
        c3 = fb(data[i + 12 : i + 16], "big")
        s0 = c0 ^ dk[0]
        s1 = c1 ^ dk[1]
        s2 = c2 ^ dk[2]
        s3 = c3 ^ dk[3]
        k = 4
        for _ in range(rounds - 1):
            u0 = d0[s0 >> 24] ^ d1[(s3 >> 16) & 0xFF] ^ d2[(s2 >> 8) & 0xFF] ^ d3[s1 & 0xFF] ^ dk[k]
            u1 = d0[s1 >> 24] ^ d1[(s0 >> 16) & 0xFF] ^ d2[(s3 >> 8) & 0xFF] ^ d3[s2 & 0xFF] ^ dk[k + 1]
            u2 = d0[s2 >> 24] ^ d1[(s1 >> 16) & 0xFF] ^ d2[(s0 >> 8) & 0xFF] ^ d3[s3 & 0xFF] ^ dk[k + 2]
            u3 = d0[s3 >> 24] ^ d1[(s2 >> 16) & 0xFF] ^ d2[(s1 >> 8) & 0xFF] ^ d3[s0 & 0xFF] ^ dk[k + 3]
            s0, s1, s2, s3 = u0, u1, u2, u3
            k += 4
        # final round + CBC chain XOR with the PREVIOUS ciphertext words
        out += ((((isb[s0 >> 24] << 24) | (isb[(s3 >> 16) & 0xFF] << 16)
                  | (isb[(s2 >> 8) & 0xFF] << 8) | isb[s1 & 0xFF]) ^ dk[k] ^ p0)
                ).to_bytes(4, "big")
        out += ((((isb[s1 >> 24] << 24) | (isb[(s0 >> 16) & 0xFF] << 16)
                  | (isb[(s3 >> 8) & 0xFF] << 8) | isb[s2 & 0xFF]) ^ dk[k + 1] ^ p1)
                ).to_bytes(4, "big")
        out += ((((isb[s2 >> 24] << 24) | (isb[(s1 >> 16) & 0xFF] << 16)
                  | (isb[(s0 >> 8) & 0xFF] << 8) | isb[s3 & 0xFF]) ^ dk[k + 2] ^ p2)
                ).to_bytes(4, "big")
        out += ((((isb[s3 >> 24] << 24) | (isb[(s2 >> 16) & 0xFF] << 16)
                  | (isb[(s1 >> 8) & 0xFF] << 8) | isb[s0 & 0xFF]) ^ dk[k + 3] ^ p3)
                ).to_bytes(4, "big")
        p0, p1, p2, p3 = c0, c1, c2, c3
    return bytes(out)


def _aes_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """PDF stream layout: 16-byte IV prefix + ciphertext; strips PKCS#7."""
    if len(data) < 32 or len(data) % 16:
        raise ValueError("pdf: malformed AES stream")
    out = _aes_cbc_decrypt_raw(key, data[:16], data[16:])
    pad = out[-1]
    if not 1 <= pad <= 16:
        raise ValueError("pdf: bad AES padding")
    return out[:-pad]


import functools


@functools.lru_cache(maxsize=256)
def _r6_hash(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 §7.6.4.3.4 Algorithm 2.B (AES-256 / R6 KDF).

    Pure function of its arguments, and the single most expensive step of
    AES-256 PDF open (~18k sequential AES blocks per evaluation) — the
    LRU means retry rounds, resume re-extraction, and replicated corpora
    pay the derivation once per distinct (password, salt, udata)."""
    import hashlib

    k = hashlib.sha256(password + salt + udata).digest()
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = _aes_cbc_encrypt(k[:16], k[16:32], k1)
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[sum(e[:16]) % 3](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


class _Pdf:
    """Parsed PDF document: xref map + object cache."""

    def __init__(self, data: bytes):
        self.data = data
        self.offsets: dict[int, int] = {}          # obj num -> byte offset
        self.in_objstm: dict[int, tuple[int, int]] = {}  # num -> (stm num, idx)
        self.cache: dict[int, object] = {}
        self.font_cache: dict = {}                 # font ref -> _Font (CMaps are expensive)
        self._objstm_cache: dict = {}              # stm num -> (body, first, pairs)
        self.cmap_cache: dict = {}                 # ToUnicode stream ref -> (cmap, width)
        self.trailer: dict = {}
        self._enc_key: bytes | None = None
        self._cipher = "rc4"
        self._scan_used = False
        self._load_xref()
        self._setup_encryption()

    # -- encryption (ISO 32000 §7.6, standard security handler) -------------
    def _setup_encryption(self) -> None:
        enc = self.trailer.get("Encrypt")
        if enc is None and self._scan_used:
            # trailer was unparsable: look for /Encrypt only in the tail,
            # where trailers live — a body-wide search would mistake page
            # text that merely MENTIONS '/Encrypt N 0 R' for encryption
            mm = re.search(rb"/Encrypt\s+(\d+)\s+(\d+)\s+R", self.data[-4096:])
            if mm:
                enc = _Ref((int(mm.group(1)), int(mm.group(2))))
        if enc is None:
            return
        enc = self.resolve(enc)
        if not isinstance(enc, dict):
            return
        import hashlib

        filt = self.resolve(enc.get("Filter"))
        v = int(self.resolve(enc.get("V")) or 0)
        r = int(self.resolve(enc.get("R")) or 0)
        if str(filt) != "Standard":
            raise ValueError(f"pdf: unsupported security handler {filt}")
        u = self.resolve(enc.get("U")) or b""
        o = self.resolve(enc.get("O")) or b""

        if v == 5 and r == 6:  # AES-256, ISO 32000-2 §7.6.4
            if _r6_hash(b"", u[32:40]) == u[:32]:
                ik = _r6_hash(b"", u[40:48])
                wrapped = self.resolve(enc.get("UE")) or b""
            elif _r6_hash(b"", o[32:40], u[:48]) == o[:32]:
                ik = _r6_hash(b"", o[40:48], u[:48])
                wrapped = self.resolve(enc.get("OE")) or b""
            else:
                raise ValueError("pdf: password-protected (empty user password rejected)")
            self._enc_key = _aes_cbc_decrypt_raw(ik, bytes(16), wrapped[:32])
            self._cipher = "aes256"
            return

        cipher = "rc4"
        length = 5 if v == 1 else max(5, min(16, int(self.resolve(enc.get("Length")) or 40) // 8))
        if v == 4 and r == 4:  # crypt filters: /V2 (RC4) or /AESV2
            stmf = str(self.resolve(enc.get("StmF")) or "Identity")
            if stmf == "Identity":
                return  # streams pass through unencrypted
            cf = self.resolve(enc.get("CF"))
            cfd = self.resolve(cf.get(_Name(stmf))) if isinstance(cf, dict) else None
            cfm = str(self.resolve(cfd.get("CFM"))) if isinstance(cfd, dict) else ""
            if cfm == "AESV2":
                cipher = "aes"
                length = 16  # AESV2 is 128-bit by definition
            elif cfm == "V2":
                # key length comes from the CF dict for V4 (top-level
                # /Length is optional); writers emit bytes OR bits
                cflen = self.resolve(cfd.get("Length")) if isinstance(cfd, dict) else None
                if cflen is None:
                    cflen = self.resolve(enc.get("Length")) or 128
                cflen = int(cflen)
                length = max(5, min(16, cflen if cflen <= 40 else cflen // 8))
            else:
                raise ValueError(f"pdf: unsupported crypt filter {cfm}")
        elif not (v in (1, 2) and r in (2, 3)):
            raise ValueError(f"pdf: unsupported encryption V={v} R={r}")
        p = int(self.resolve(enc.get("P")) or 0)
        ids = self.resolve(self.trailer.get("ID"))
        id0 = ids[0] if isinstance(ids, list) and ids and isinstance(ids[0], bytes) else b""
        # Algorithm 2 with the EMPTY user password (the overwhelmingly
        # common "owner-locked" case); a real user password is a refusal
        seed = _ENC_PAD + o[:32] + (p & 0xFFFFFFFF).to_bytes(4, "little") + id0
        if r == 4 and self.resolve(enc.get("EncryptMetadata")) is False:
            seed += b"\xff\xff\xff\xff"
        h = hashlib.md5(seed).digest()
        if r >= 3:
            for _ in range(50):
                h = hashlib.md5(h[:length]).digest()
        key = h[:length]
        # Algorithms 4/5: recompute /U and compare — a mismatch means a
        # non-empty user password protects the document
        if r == 2:
            ok = _rc4(key, _ENC_PAD) == u[:32]
        else:
            x = _rc4(key, hashlib.md5(_ENC_PAD + id0).digest())
            for i in range(1, 20):
                x = _rc4(bytes(b ^ i for b in key), x)
            ok = x == u[:16]
        if not ok:
            raise ValueError("pdf: password-protected (empty user password rejected)")
        self._enc_key = key
        self._cipher = cipher

    def _decrypt_stream(self, num: int, gen: int, raw: bytes) -> bytes:
        if self._cipher == "aes256":  # V5: one file key for every stream
            return _aes_cbc_decrypt(self._enc_key, raw)
        import hashlib

        k = self._enc_key
        salt = b"sAlT" if self._cipher == "aes" else b""  # §7.6.2 AESV2 salt
        ok = hashlib.md5(
            k + num.to_bytes(3, "little") + gen.to_bytes(2, "little") + salt
        ).digest()[: min(len(k) + 5, 16)]
        return _aes_cbc_decrypt(ok, raw) if self._cipher == "aes" else _rc4(ok, raw)

    # -- xref ---------------------------------------------------------------
    def _load_xref(self) -> None:
        data = self.data
        tail = data[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        try:
            if not m:
                raise ValueError("no startxref")
            seen = set()
            pos = int(m.group(1))
            while pos not in seen:
                seen.add(pos)
                pos = self._read_xref_section(pos)
                if pos is None:
                    break
        except Exception:
            self._scan_fallback()
        if not self.offsets and not self.in_objstm:
            self._scan_fallback()
        if "Root" not in self.trailer:
            mm = re.search(rb"/Root\s+(\d+)\s+(\d+)\s+R", data)
            if mm:
                self.trailer["Root"] = _Ref((int(mm.group(1)), int(mm.group(2))))

    def _read_xref_section(self, pos: int):
        data = self.data
        i = _skip_ws(data, pos)
        if data.startswith(b"xref", i):
            i += 4
            while True:
                i = _skip_ws(data, i)
                if data.startswith(b"trailer", i):
                    trailer, _ = _parse_dict(data, _skip_ws(data, i + 7))
                    for k, v in trailer.items():
                        self.trailer.setdefault(k, v)
                    prev = trailer.get("Prev")
                    return int(prev) if prev is not None else None
                m = re.match(rb"(\d+)\s+(\d+)", data[i : i + 40])
                if not m:
                    return None
                start, count = int(m.group(1)), int(m.group(2))
                i = _skip_ws(data, i + m.end())
                # The entry count comes verbatim from the file; clamp it to
                # what the remaining bytes can actually hold (entries are
                # 19–20 bytes) so a crafted "0 200000000" subsection cannot
                # spin for minutes on a 110-byte input.
                count = min(count, (len(data) - i) // 19 + 1)
                for k in range(count):
                    if i >= len(data):
                        break
                    ent = data[i : i + 20]
                    if ent[17:18] == b"n":
                        num = start + k
                        self.offsets.setdefault(num, int(ent[0:10]))
                    # spec entries are exactly 20 bytes; some writers emit
                    # 19 (single-byte EOL) — detect by the next entry's
                    # digit starting one position early
                    i += 19 if ent[19:20].isdigit() else 20
        else:
            # xref stream
            num, obj, _ = self._parse_indirect_at(pos)
            if not isinstance(obj, tuple):
                return None
            d, raw = obj
            w = [int(x) for x in d.get("W", [1, 1, 1])]
            index = d.get("Index") or [0, int(d.get("Size", 0))]
            body = self._decode_stream(d, raw)
            rec = sum(w)
            if rec <= 0:
                # /W is file-controlled: [0 0 0] makes every entry zero
                # bytes wide, so the per-entry loop below would never hit
                # its body-exhaustion break — a crafted /Index count then
                # spins forever on a 100-byte file
                return None
            it = 0
            for s in range(0, len(index), 2):
                start, count = int(index[s]), int(index[s + 1])
                # clamp the file-controlled count to what the decoded body
                # can actually hold (same guard as the classic-xref path)
                count = min(count, (len(body) - it) // rec + 1)
                for k in range(count):
                    if it + rec > len(body):
                        break
                    f = []
                    o = it
                    for width in w:
                        f.append(int.from_bytes(body[o : o + width], "big") if width else 1)
                        o += width
                    it += rec
                    num_k = start + k
                    if f[0] == 1:
                        self.offsets.setdefault(num_k, f[1])
                    elif f[0] == 2:
                        self.in_objstm.setdefault(num_k, (f[1], f[2]))
            for k, v in d.items():
                self.trailer.setdefault(k, v)
            prev = d.get("Prev")
            return int(prev) if prev is not None else None
        return None

    def _scan_fallback(self) -> None:
        """Last resort: scan every `N G obj` in the file (later wins)."""
        self._scan_used = True
        for m in re.finditer(rb"(?:^|[\r\n \t>])(\d+)\s+\d+\s+obj\b", self.data):
            self.offsets[int(m.group(1))] = m.start(1)

    # -- objects ------------------------------------------------------------
    def _parse_indirect_at(self, pos: int):
        data = self.data
        m = re.match(rb"\s*(\d+)\s+(\d+)\s+obj", data[pos : pos + 48])
        if not m:
            raise ValueError(f"pdf: expected indirect object at {pos}")
        i = pos + m.end()
        val, i = _parse_object(data, i)
        i2 = _skip_ws(data, i)
        if data.startswith(b"stream", i2):
            j = i2 + 6
            if data[j : j + 2] == b"\r\n":
                j += 2
            elif data[j : j + 1] in (b"\n", b"\r"):
                j += 1
            length = self.resolve(val.get("Length")) if isinstance(val, dict) else None
            if isinstance(length, int) and data.startswith(b"endstream", _skip_ws(data, j + length)):
                raw = data[j : j + length]
            else:
                end = data.index(b"endstream", j)
                raw = data[j:end].rstrip(b"\r\n")
            num, gen = int(m.group(1)), int(m.group(2))
            # xref streams are never encrypted (§7.5.8.2); everything else
            # decrypts with the document's cipher
            if self._enc_key is not None and val.get("Type") != "XRef":
                raw = self._decrypt_stream(num, gen, raw)
            return num, (val, raw), i
        return int(m.group(1)), val, i

    def _apply_predictor(self, p, raw: bytes) -> bytes:
        if isinstance(p, dict) and int(self.resolve(p.get("Predictor")) or 1) >= 10:
            colors = int(self.resolve(p.get("Colors")) or 1)
            bpc = int(self.resolve(p.get("BitsPerComponent")) or 8)
            cols = int(self.resolve(p.get("Columns")) or 1)
            raw = _png_unpredict(raw, colors * bpc // 8, cols)
        return raw

    def _decode_stream(self, d: dict, raw: bytes) -> bytes:
        filt = self.resolve(d.get("Filter"))
        filters = [filt] if isinstance(filt, _Name) else (filt or [])
        parms = self.resolve(d.get("DecodeParms")) or self.resolve(d.get("DP"))
        parms_list = [parms] if isinstance(parms, dict) else (parms or [])
        for fi, f in enumerate(filters):
            p = self.resolve(parms_list[fi]) if fi < len(parms_list) else None
            if f == "FlateDecode":
                raw = self._apply_predictor(p, inflate_capped(raw, "pdf flate"))
            elif f == "ASCIIHexDecode":
                hx = re.sub(rb"[^0-9A-Fa-f]", b"", raw.split(b">")[0])
                if len(hx) % 2:  # §7.4.2: odd digit count implies a final 0
                    hx += b"0"
                raw = bytes.fromhex(hx.decode("ascii"))
            elif f == "ASCII85Decode":
                import base64
                raw = base64.a85decode(raw.rstrip(b"~>"), adobe=False)
            elif f == "LZWDecode":
                ec = self.resolve(p.get("EarlyChange")) if isinstance(p, dict) else None
                raw = self._apply_predictor(p, _lzw_decode(raw, 1 if ec is None else int(ec)))
            elif f == "RunLengthDecode":
                raw = _rle_decode(raw)
            else:
                raise ValueError(f"pdf: unsupported filter {f}")
        return raw

    def get(self, num: int):
        if num in self.cache:
            return self.cache[num]
        self.cache[num] = None  # cycle guard
        try:
            if num in self.offsets:
                _, obj, _ = self._parse_indirect_at(self.offsets[num])
            elif num in self.in_objstm:
                obj = self._from_objstm(num)
            else:
                obj = None
        except Exception:
            obj = None
        self.cache[num] = obj
        return obj

    def _from_objstm(self, num: int):
        stm_num, _idx = self.in_objstm[num]
        # Decode + header-parse each ObjStm ONCE per document: a stream
        # typically holds dozens-to-hundreds of objects, and re-inflating
        # it per contained object was the parser's dominant repeated cost.
        hit = self._objstm_cache.get(stm_num)
        if hit is None:
            stm = self.get(stm_num)
            if not (isinstance(stm, tuple) and isinstance(stm[0], dict)):
                self._objstm_cache[stm_num] = (b"", 0, [])
                return None
            d, raw = stm
            body = self._decode_stream(d, raw)
            n = int(self.resolve(d.get("N")) or 0)
            first = int(self.resolve(d.get("First")) or 0)
            i = 0
            pairs = []
            for _ in range(n):
                i = _skip_ws(body, i)
                m = re.match(rb"(\d+)\s+(\d+)", body[i : i + 40])
                if not m:
                    break
                pairs.append((int(m.group(1)), int(m.group(2))))
                i += m.end()
            hit = (body, first, pairs)
            self._objstm_cache[stm_num] = hit
        body, first, pairs = hit
        for onum, off in pairs:
            if onum == num:
                val, _ = _parse_object(body, first + off)
                return val
        return None

    def resolve(self, v, depth: int = 0):
        while isinstance(v, _Ref) and depth < 32:
            v = self.get(v[0])
            depth += 1
        return v

    def stream_bytes(self, v) -> bytes:
        v = self.resolve(v)
        if isinstance(v, tuple) and isinstance(v[0], dict):
            return self._decode_stream(v[0], v[1])
        raise ValueError("pdf: expected stream object")


# -- fonts -------------------------------------------------------------------

_HEXGRP = re.compile(rb"<([0-9A-Fa-f]+)>")


def _parse_tounicode(cmap: bytes) -> tuple[dict[int, str], int]:
    """Parse a ToUnicode CMap → (code→text map, code byte width).
    Width defaults to 1 when codespacerange is absent — assuming 2 would
    silently blank simple 1-byte fonts whose CMaps omit the range."""
    out: dict[int, str] = {}
    width = 1
    m = re.search(rb"begincodespacerange(.*?)endcodespacerange", cmap, re.S)
    if m:
        hx = _HEXGRP.findall(m.group(1))
        if hx:
            width = max(1, len(hx[0]) // 2)

    def _u(hexs: bytes) -> str:
        b = bytes.fromhex(hexs.decode("ascii"))
        if len(b) % 2:
            b = b"\x00" + b
        return b.decode("utf-16-be", errors="replace")

    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", cmap, re.S):
        toks = _HEXGRP.findall(m.group(1))
        for i in range(0, len(toks) - 1, 2):
            out[int(toks[i], 16)] = _u(toks[i + 1])
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", cmap, re.S):
        body = m.group(1)
        i = 0
        n = len(body)
        while i < n:
            mm = re.compile(rb"\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*").match(body, i)
            if not mm:
                break
            lo, hi = int(mm.group(1), 16), int(mm.group(2), 16)
            i = mm.end()
            if body[i : i + 1] == b"[":
                j = body.index(b"]", i)
                dsts = _HEXGRP.findall(body[i:j])
                for k, dst in enumerate(dsts):
                    if lo + k <= hi:
                        out[lo + k] = _u(dst)
                i = j + 1
            else:
                mm2 = re.compile(rb"<([0-9A-Fa-f]+)>").match(body, i)
                if not mm2:
                    break
                base_hex = mm2.group(1)
                base = int(base_hex, 16)
                # lo/hi come verbatim from the file; a ToUnicode code is at
                # most 2 bytes (the map keys are 16-bit CIDs here), so any
                # range wider than 64K is garbage — without the clamp a
                # crafted <0000> <ffffffffff> range iterates 2^40 times
                for k in range(min(hi - lo + 1, 0x10000)):
                    try:
                        b = (base + k).to_bytes(max(2, len(base_hex) // 2), "big")
                    except OverflowError:
                        break  # dst counter outgrew its own hex width
                    out[lo + k] = b.decode("utf-16-be", errors="replace")
                i = mm2.end()
    return out, width


# Minimal Adobe glyph list for /Differences simple-font encodings.
_AGL = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#", "dollar": "$",
    "percent": "%", "ampersand": "&", "quotesingle": "'", "parenleft": "(",
    "parenright": ")", "asterisk": "*", "plus": "+", "comma": ",", "hyphen": "-",
    "period": ".", "slash": "/", "colon": ":", "semicolon": ";", "less": "<",
    "equal": "=", "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^", "underscore": "_",
    "grave": "`", "braceleft": "{", "bar": "|", "braceright": "}",
    "asciitilde": "~", "bullet": "•", "endash": "–", "emdash": "—",
    "quoteleft": "‘", "quoteright": "’", "quotedblleft": "“",
    "quotedblright": "”", "fi": "ﬁ", "fl": "ﬂ", "degree": "°",
    "middot": "·", "periodcentered": "·", "ellipsis": "…",
}
for _c in range(0x30, 0x3A):
    _AGL[chr(_c)] = chr(_c)
_AGL.update({n: chr(c) for c, n in zip(
    range(0x30, 0x3A),
    ["zero", "one", "two", "three", "four", "five", "six", "seven", "eight", "nine"],
)})
for _c in list(range(0x41, 0x5B)) + list(range(0x61, 0x7B)):
    _AGL[chr(_c)] = chr(_c)


_MONO_NAME_RE = MONO_FONT_RE  # shared with the docx classifier (spans.py)

# predefined CMaps whose 2-byte character code IS the Unicode value
# (ISO 32000 §9.7.5.2 / Adobe CMap resources: UniGB-UCS2-H, UniJIS-UTF16-V,
# UniJIS-UCS2-HW-H, …) — text decodes as UTF-16BE with no ToUnicode needed
_UNI_CMAP_RE = re.compile(r"^Uni\w+-(?:UCS2|UTF16)(?:-HW)?-[HV]$")

_TTF_CMAP_CAP = 1 << 17  # mapping-count cap: the inversion dict is the
# only allocation that grows with FONT-claimed (not input-sized) counts
_CMAP_ITER_BUDGET = 1 << 21  # total-ITERATION cap for the inversion and
# CMap-range loops: an entry cap alone can't bound work, because crafted
# repeated segments/ranges re-cover codes that add no new entries (the
# 16-bit gid space also tops out below _TTF_CMAP_CAP, making the entry
# cap unreachable) — per-document CPU must be bounded by construction


def _invert_ttf_cmap(ttf: bytes) -> dict[int, str]:
    """Embedded TrueType font → {glyph id: unicode char}, inverted from
    its 'cmap' table (format 12 preferred, else format 4). This is what
    a PDF viewer's text extractor does for Identity-H CID fonts that
    ship no ToUnicode: the only code→text evidence is the font's own
    unicode→glyph mapping, run backwards. Best-effort: returns {} on any
    structural problem (caller keeps the empty-cmap fallback)."""
    if len(ttf) < 12:
        return {}
    num_tables = int.from_bytes(ttf[4:6], "big")
    cmap_off = None
    for i in range(min(num_tables, 64)):
        rec = 12 + 16 * i
        if rec + 16 > len(ttf):
            break
        if ttf[rec:rec + 4] == b"cmap":
            cmap_off = int.from_bytes(ttf[rec + 8:rec + 12], "big")
            break
    if cmap_off is None or cmap_off + 4 > len(ttf):
        return {}
    n_sub = int.from_bytes(ttf[cmap_off + 2:cmap_off + 4], "big")
    best = None  # (priority, subtable offset, format)
    for i in range(min(n_sub, 32)):
        rec = cmap_off + 4 + 8 * i
        if rec + 8 > len(ttf):
            break
        pid = int.from_bytes(ttf[rec:rec + 2], "big")
        eid = int.from_bytes(ttf[rec + 2:rec + 4], "big")
        off = cmap_off + int.from_bytes(ttf[rec + 4:rec + 8], "big")
        if off + 2 > len(ttf):
            continue
        fmt = int.from_bytes(ttf[off:off + 2], "big")
        pri = None
        if fmt == 12 and (pid, eid) in ((3, 10), (0, 4), (0, 6)):
            pri = 0  # full-repertoire unicode
        elif fmt == 4 and (pid, eid) in ((3, 1), (0, 3), (0, 2), (0, 1), (0, 0)):
            pri = 1  # BMP unicode
        if pri is not None and (best is None or pri < best[0]):
            best = (pri, off, fmt)
    if best is None:
        return {}
    _, off, fmt = best
    gid2uni: dict[int, str] = {}
    budget = _CMAP_ITER_BUDGET
    if fmt == 4:
        segx2 = int.from_bytes(ttf[off + 6:off + 8], "big")
        ends = off + 14
        starts = ends + segx2 + 2  # + reservedPad
        deltas = starts + segx2
        ranges = deltas + segx2
        if ranges + segx2 > len(ttf):
            return {}
        for s in range(segx2 // 2):
            end = int.from_bytes(ttf[ends + 2 * s:ends + 2 * s + 2], "big")
            start = int.from_bytes(ttf[starts + 2 * s:starts + 2 * s + 2], "big")
            delta = int.from_bytes(ttf[deltas + 2 * s:deltas + 2 * s + 2], "big")
            ro = int.from_bytes(ttf[ranges + 2 * s:ranges + 2 * s + 2], "big")
            if start == 0xFFFF:
                continue
            span = min(end, 0xFFFE) - start + 1
            if span > budget:
                return gid2uni
            budget -= max(span, 1)
            for code in range(start, start + span):
                if 0xD800 <= code <= 0xDFFF:
                    continue
                if ro == 0:
                    g = (code + delta) & 0xFFFF
                else:
                    gi = ranges + 2 * s + ro + 2 * (code - start)
                    if gi + 2 > len(ttf):
                        continue
                    g = int.from_bytes(ttf[gi:gi + 2], "big")
                    if g:
                        g = (g + delta) & 0xFFFF
                if g and g not in gid2uni:
                    gid2uni[g] = chr(code)
                    if len(gid2uni) >= _TTF_CMAP_CAP:
                        return gid2uni
    else:  # format 12: sequential map groups of uint32 triples
        if off + 16 > len(ttf):
            return {}
        ngroups = int.from_bytes(ttf[off + 12:off + 16], "big")
        p = off + 16
        for _ in range(min(ngroups, 1 << 16)):
            if p + 12 > len(ttf):
                break
            sc = int.from_bytes(ttf[p:p + 4], "big")
            ec = int.from_bytes(ttf[p + 4:p + 8], "big")
            sg = int.from_bytes(ttf[p + 8:p + 12], "big")
            p += 12
            span = min(ec, 0x10FFFF) - sc + 1
            if span <= 0:
                continue
            if span > budget:
                return gid2uni
            budget -= span
            for k in range(span):
                code = sc + k
                if 0xD800 <= code <= 0xDFFF:
                    continue  # skip the surrogate block, keep the rest
                g = sg + k
                if g and g not in gid2uni:
                    gid2uni[g] = chr(code)
                    if len(gid2uni) >= _TTF_CMAP_CAP:
                        return gid2uni
    return gid2uni


_CIDCHAR_RE = re.compile(rb"begincidchar(.*?)endcidchar", re.S)
_CIDRANGE_RE = re.compile(rb"begincidrange(.*?)endcidrange", re.S)
_CIDCHAR_ENTRY = re.compile(rb"<([0-9A-Fa-f]+)>\s+(\d+)")
_CIDRANGE_ENTRY = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s+(\d+)")


def _parse_cid_cmap(body: bytes) -> dict[int, int]:
    """Embedded CMap stream (a Type0 font's /Encoding) → {code: CID}.
    Only the cidchar/cidrange sections matter for text recovery; 2-byte
    codes assumed (the codespace of every practical CID CMap). Capped at
    the same mapping budget as the TTF inversion."""
    out: dict[int, int] = {}
    budget = _CMAP_ITER_BUDGET
    for m in _CIDCHAR_RE.finditer(body):
        for e in _CIDCHAR_ENTRY.finditer(m.group(1)):
            out[int(e.group(1), 16)] = int(e.group(2))
            budget -= 1
            if len(out) >= _TTF_CMAP_CAP or budget <= 0:
                return out
    for m in _CIDRANGE_RE.finditer(body):
        for e in _CIDRANGE_ENTRY.finditer(m.group(1)):
            lo, hi = int(e.group(1), 16), int(e.group(2), 16)
            cid = int(e.group(3))
            span = min(hi - lo + 1, _TTF_CMAP_CAP)
            if span <= 0:
                continue
            if span > budget:  # work cap, not just entries: repeated
                return out     # identical ranges re-cover existing keys
            budget -= span
            for k in range(span):
                out.setdefault(lo + k, cid + k)
                if len(out) >= _TTF_CMAP_CAP:
                    return out
    return out


class _Font:
    def __init__(self, pdf: _Pdf, fd: dict):
        self.two_byte = False
        self.utf16 = False
        self.cmap: dict[int, str] = {}
        self.diff: dict[int, str] = {}
        subtype = pdf.resolve(fd.get("Subtype"))
        enc = pdf.resolve(fd.get("Encoding"))
        # fixed-pitch detection → code-block classification downstream:
        # the BaseFont name, else the FixedPitch flag (PDF 32000 §9.8.2
        # bit 1) on the descriptor (descendant's for Type0 fonts)
        base = str(pdf.resolve(fd.get("BaseFont")) or "")
        self.mono = bool(_MONO_NAME_RE.search(base))
        # math faces (Symbol/CMMI/CMSY/CMEX/…) → formula classification;
        # subset-tag prefixes ('ABCDEF+CMMI10') pass the search() match
        self.math = bool(MATH_FONT_RE.search(base))
        d0 = None  # Type0 descendant CIDFont dict, resolved exactly once
        if subtype == "Type0":
            try:
                desc_list = pdf.resolve(fd.get("DescendantFonts")) or []
                cand = pdf.resolve(desc_list[0]) if desc_list else None
                if isinstance(cand, dict):
                    d0 = cand
            except Exception:
                pass
        if not self.mono:
            try:
                desc = pdf.resolve((d0 or fd).get("FontDescriptor"))
                if isinstance(desc, dict):
                    self.mono = bool(int(pdf.resolve(desc.get("Flags")) or 0) & 1)
            except Exception:
                pass
        if subtype == "Type0":
            self.two_byte = True  # Identity-H/V or CMap-encoded; corpus uses Identity
        tu = fd.get("ToUnicode")
        if tu is not None:
            try:
                # pages often repeat inline font dicts that share one
                # ToUnicode stream by ref — parse each CMap once per doc
                key = tu if isinstance(tu, _Ref) else None
                hit = pdf.cmap_cache.get(key) if key is not None else None
                if hit is None:
                    hit = _parse_tounicode(pdf.stream_bytes(tu))
                    if key is not None:
                        pdf.cmap_cache[key] = hit
                self.cmap, width = hit
                self.two_byte = self.two_byte or width == 2
            except Exception:
                pass
        if subtype == "Type0" and not self.cmap:
            # no ToUnicode: without a recovery every glyph decodes to ""
            # and the run is silently dropped — total content loss.
            # (a) predefined Unicode CMaps: the 2-byte code IS the
            # Unicode value, decode as UTF-16BE; (b) Identity-H with an
            # embedded TrueType program: invert the font's own 'cmap'
            # (gid→unicode), routed through CIDToGIDMap when present —
            # what a viewer's text extractor does. CIDFontType0 (CFF)
            # without ToUnicode stays unrecovered (empty decode).
            enc_name = enc if isinstance(enc, str) else ""
            if _UNI_CMAP_RE.match(enc_name):
                self.utf16 = True
            elif (
                enc is None  # missing /Encoding: broken generators; viewers assume Identity
                or enc_name in ("Identity-H", "Identity-V")
                or (isinstance(enc, tuple) and isinstance(enc[0], dict))
            ):
                # only code→CID mappings we can actually FOLLOW: Identity
                # (named or implied by a missing /Encoding), or an
                # embedded CMap stream (parsed below). Any OTHER
                # predefined CMap (GBK-EUC-H, 90ms-RKSJ-H, UniGB-UTF8-H…)
                # has a nontrivial code→CID table this engine doesn't
                # ship — assuming Identity there would extract WRONG text,
                # which for a hash-verified pipeline is worse than the
                # empty-decode drop.
                try:
                    if isinstance(d0, dict):
                        desc = pdf.resolve(d0.get("FontDescriptor"))
                        ff_ref = desc.get("FontFile2") if isinstance(desc, dict) else None
                        # the inversion is budgeted PER CALL; repeated
                        # font dicts sharing one FontFile2 by ref (the
                        # common inline-font-dict shape, and the crafted
                        # N-fonts amplification) must pay it once per
                        # DOCUMENT — same cache discipline as ToUnicode
                        ff_key = ("ttfinv", ff_ref) if isinstance(ff_ref, _Ref) else None
                        gid2uni = pdf.cmap_cache.get(ff_key) if ff_key else None
                        if gid2uni is None:
                            ff = pdf.resolve(ff_ref)
                            gid2uni = (
                                _invert_ttf_cmap(pdf._decode_stream(ff[0], ff[1]))
                                if isinstance(ff, tuple) and isinstance(ff[0], dict)
                                else {}
                            )
                            if ff_key:
                                pdf.cmap_cache[ff_key] = gid2uni
                        if gid2uni:
                            c2g = pdf.resolve(d0.get("CIDToGIDMap"))
                            if isinstance(c2g, tuple) and isinstance(c2g[0], dict):
                                m = pdf._decode_stream(c2g[0], c2g[1])
                                # CIDs are 16-bit: entries past 2×65536
                                # bytes are unreachable by any code
                                cid2uni = {
                                    cid: gid2uni[(m[2 * cid] << 8) | m[2 * cid + 1]]
                                    for cid in range(min(len(m) // 2, 1 << 16))
                                    if ((m[2 * cid] << 8) | m[2 * cid + 1]) in gid2uni
                                }
                            else:  # CIDToGIDMap absent or /Identity
                                cid2uni = gid2uni
                            if isinstance(enc, tuple) and isinstance(enc[0], dict):
                                # /Encoding is an embedded CMap STREAM:
                                # route code→CID through it before the
                                # CID→unicode lookup (Identity otherwise);
                                # cached by ref like the inversion
                                enc_ref = fd.get("Encoding")
                                ek = ("cidcmap", enc_ref) if isinstance(enc_ref, _Ref) else None
                                code2cid = pdf.cmap_cache.get(ek) if ek else None
                                if code2cid is None:
                                    code2cid = _parse_cid_cmap(
                                        pdf._decode_stream(enc[0], enc[1]))
                                    if ek:
                                        pdf.cmap_cache[ek] = code2cid
                                self.cmap = {
                                    code: cid2uni[cid]
                                    for code, cid in code2cid.items()
                                    if cid in cid2uni
                                }
                            else:
                                self.cmap = cid2uni
                except Exception:
                    pass
        # simple-font named base encodings (§9.6.5): bytes 0x80–0xFF carry
        # accented/European text; without this the >0x7F fallback in
        # decode() drops them (ASCII-only chr()). Differences entries
        # still override per code. StandardEncoding's upper half differs
        # from both codecs and stays ASCII-fallback-only.
        self.high_codec = ""
        base_enc = enc.get("BaseEncoding") if isinstance(enc, dict) else enc
        base_name = str(pdf.resolve(base_enc) or "")
        if base_name == "WinAnsiEncoding":
            self.high_codec = "cp1252"
        elif base_name == "MacRomanEncoding":
            self.high_codec = "mac_roman"
        if isinstance(enc, dict):
            diffs = pdf.resolve(enc.get("Differences"))
            if isinstance(diffs, list):
                code = 0
                for item in diffs:
                    if isinstance(item, (int, float)):
                        code = int(item)
                    else:
                        name = str(item)
                        if name.startswith("uni") and len(name) >= 7:
                            try:
                                self.diff[code] = chr(int(name[3:7], 16))
                            except ValueError:
                                pass
                        elif name in _AGL:
                            self.diff[code] = _AGL[name]
                        code += 1

    def decode(self, b: bytes) -> str:
        if self.utf16:
            return b[: len(b) & ~1].decode("utf-16-be", errors="ignore")
        out = []
        if self.two_byte:
            for i in range(0, len(b) - 1, 2):
                code = (b[i] << 8) | b[i + 1]
                out.append(self.cmap.get(code, ""))
        else:
            for code in b:
                if code in self.cmap:
                    out.append(self.cmap[code])
                elif code in self.diff:
                    out.append(self.diff[code])
                elif 0x20 <= code < 0x7F:
                    out.append(chr(code))
                elif code >= 0x80 and self.high_codec:
                    out.append(bytes((code,)).decode(self.high_codec, errors="ignore"))
        return "".join(out)


# -- content stream interpreter ---------------------------------------------

def _mat_mul(a, b):
    return (
        a[0] * b[0] + a[1] * b[2],
        a[0] * b[1] + a[1] * b[3],
        a[2] * b[0] + a[3] * b[2],
        a[2] * b[1] + a[3] * b[3],
        a[4] * b[0] + a[5] * b[2] + b[4],
        a[4] * b[1] + a[5] * b[3] + b[5],
    )

_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


# one compiled step per token: eats whitespace/comments, then captures
# exactly one of number | /name | operator-word | single delimiter byte.
# The delimiter catch-all excludes whitespace so a pure-ws tail fails to
# match (loop end) instead of backtracking a ws byte into group 4.
_TOK_RE = re.compile(
    _WSC
    + rb"(?:(" + _NUM_PAT + rb")"
    rb"|/(" + _NAME_CLS + rb"*)"
    rb"|(" + _NAME_CLS + rb"+)"
    rb"|([^\x00\t\n\x0c\r ]))"
)

# operator bytes -> str, interned across calls (a content stream uses a
# dozen distinct operators, decoded thousands of times otherwise)
_OP_CACHE: dict[bytes, str] = {}


def _content_tokens(body: bytes):
    """Yield operands/operators from a content stream. One _TOK_RE match
    per token — text-dense pages emit one operand per glyph, so per-token
    Python dispatch/WS overhead dominates otherwise."""
    i = 0
    n = len(body)
    match = _TOK_RE.match
    op_cache = _OP_CACHE
    while i < n:
        m = match(body, i)
        if m is None:
            return
        num, name, word, delim = m.group(1, 2, 3, 4)
        i = m.end()
        if num is not None:
            yield ("operand", float(num) if b"." in num else int(num))
        elif word is not None:
            if word[0] in b"+-.":
                # malformed number ('-', '-x', '..'): skip the sign byte and
                # re-lex, instead of emitting a bogus operator that would
                # clear pending operands in the interpreter
                i = m.start(3) + 1
                continue
            op = op_cache.get(word)
            if op is None:
                op = word.decode("latin-1")
                if len(op_cache) < 1024:
                    op_cache[word] = op
            if op == "BI":  # inline image: skip to EI
                # the image payload after ID is raw binary that can
                # contain the byte pair "EI"; accept it only as a
                # standalone token — whitespace before (the tight filter
                # every real reader applies, §8.9.7) and any token
                # boundary after: whitespace, EOF, or a delimiter byte,
                # since '(next)Tj' may legally follow EI with no space
                k = body.find(b"EI", i)
                while k >= 0 and not (
                    body[k - 1] in b"\x00\t\n\x0c\r "
                    and (k + 2 >= n or body[k + 2] in b"\x00\t\n\x0c\r ()<>[]{}/%")
                ):
                    k = body.find(b"EI", k + 2)
                i = n if k < 0 else k + 2
                yield ("op", "BI_skipped")
            else:
                yield ("op", op)
        elif name is not None:
            yield ("operand", _name_of(name))
        else:
            # delimiter byte: '(' string, '<' hex/dict, '[' array — parse
            # from the delimiter itself; stray ')]>}{' bytes are skipped
            try:
                if delim == b"(":
                    v, i = _parse_lit_string(body, i - 1)
                elif delim == b"[" or (delim == b"<" and body[i : i + 1] == b"<"):
                    v, i = _parse_object(body, i - 1, refs=False)
                elif delim == b"<":
                    v, i = _parse_hex_string(body, i - 1)
                else:
                    continue
            except (ValueError, IndexError):
                # unterminated/truncated string or array at stream end:
                # skip the delimiter, keep the text already recovered
                continue
            yield ("operand", v)


_TEXT_OPS = frozenset([
    "BT", "ET", "Tf", "TL", "Td", "TD", "Tm", "T*", "Tj", "'", '"', "TJ",
    "cm", "q", "Q", "Do",
])


class _BudgetExceeded(ValueError):
    """Interpreted-bytes budget exhausted. A dedicated type so
    extract_realpdf can stop interpreting further pages and finalize the
    runs already collected (graceful truncation of a legitimately huge
    document) while form-level containment still re-raises it."""


def _interpret(pdf: _Pdf, body: bytes, resources: dict, page_no: int,
               runs: list, ctm, seq_start: int, depth: int = 0,
               budget: list | None = None, rot_runs: list | None = None) -> int:
    # The depth cap below stops self-referential forms, but not BREADTH:
    # a stream of K "/F Do" ops invoking a form that itself holds K Do ops
    # re-interprets (and re-emits runs for) the same bytes K^depth times —
    # a crafted few-hundred-KB file becomes years of work and unbounded
    # runs. A budget of total interpreted bytes, shared down the
    # recursion, bounds the whole DOCUMENT (one pool across pages — a
    # per-page pool would let 10k pages multiply the cap back into a
    # bomb) at the decode-expansion cap; exhaustion truncates, see
    # _BudgetExceeded.
    if budget is None:
        budget = [limits.MAX_DECODED_BYTES]
    budget[0] -= len(body)
    if budget[0] < 0:
        raise _BudgetExceeded("pdf: interpreted content over the expansion cap")
    if rot_runs is None:
        rot_runs = []
    fonts_res = pdf.resolve(resources.get("Font")) or {}
    xobjs = pdf.resolve(resources.get("XObject")) or {}
    font: _Font | None = None
    size = 0.0
    leading = 0.0
    tm = _ID
    tlm = _ID
    stack = []
    gstack = []
    seq = seq_start

    def current_font() -> _Font | None:
        return font

    def show(sbytes: bytes) -> None:
        nonlocal seq
        f = current_font()
        if f is None or not sbytes:
            return
        txt = f.decode(sbytes)
        if not txt:
            return
        dev = _mat_mul(tm, ctm)
        # Baseline orientation from the (a, b) column. Horizontal is the
        # normal case; a DIAGONAL baseline (45° 'DRAFT' watermark) is
        # always decoration — it shreds into one-glyph lines interleaved
        # with content under y-bucketing. Axis-aligned 90/180/270 runs
        # are parked in rot_runs: a page whose content is uniformly
        # rotated in PDF space WITHOUT a compensating /Rotate (landscape
        # content on a portrait MediaBox, some OCR layers) must not
        # silently extract as empty — extract_realpdf keeps a rotation
        # class when it forms the page majority (coordinates re-mapped),
        # and drops it as sideways-margin decoration otherwise.
        a, b = dev[0], dev[1]
        if abs(b) <= 0.1 * (abs(a) + 1e-9):
            orient = 0 if a >= 0 else 180
        elif abs(a) <= 0.1 * (abs(b) + 1e-9):
            orient = 90 if b > 0 else 270
        else:
            return
        # the c threshold is loose (0.6) because fake-italic shear
        # matrices [1 0 0.21 1] are ordinary body text
        if orient == 0 and abs(dev[2]) > 0.6 * (abs(dev[3]) + 1e-9):
            return
        eff = size * (math.hypot(a, b) or 1.0)
        if orient == 0:
            runs.append((page_no, dev[5], dev[4], eff, seq, "t", txt,
                         f.mono, f.math))
        else:
            rot_runs.append((orient, page_no, dev[5], dev[4], eff, seq,
                             "t", txt, f.mono, f.math))
        seq += 1

    for kind, tok in _content_tokens(body):
        if kind == "operand":
            stack.append(tok)
            continue
        op = tok
        if op not in _TEXT_OPS:
            # path/color/marked-content operators: no text-state effect;
            # skip the comparison chain (they outnumber text ops on
            # graphics-heavy pages)
            stack.clear()
            continue
        # checked OUTSIDE the per-op containment try (and outside the Do
        # branch's best-effort try): once a nested form exhausts the
        # budget, the exhaustion must propagate up every level instead of
        # being swallowed as a broken-form error with silent truncation
        if budget[0] < 0:
            raise _BudgetExceeded("pdf: interpreted content over the expansion cap")
        try:
            if op == "BT":
                tm = tlm = _ID
            elif op == "ET":
                pass
            elif op == "Tf" and len(stack) >= 2:
                size = float(stack[-1])
                name = str(stack[-2])
                fref = fonts_res.get(name)
                key = fref if isinstance(fref, _Ref) else (id(resources), name)
                if key not in pdf.font_cache:
                    fd = pdf.resolve(fref)
                    pdf.font_cache[key] = _Font(pdf, fd) if isinstance(fd, dict) else None
                font = pdf.font_cache[key]
            elif op == "TL" and stack:
                leading = float(stack[-1])
            elif op == "Td" and len(stack) >= 2:
                tlm = _mat_mul((1, 0, 0, 1, float(stack[-2]), float(stack[-1])), tlm)
                tm = tlm
            elif op == "TD" and len(stack) >= 2:
                leading = -float(stack[-1])
                tlm = _mat_mul((1, 0, 0, 1, float(stack[-2]), float(stack[-1])), tlm)
                tm = tlm
            elif op == "Tm" and len(stack) >= 6:
                tlm = tuple(float(v) for v in stack[-6:])
                tm = tlm
            elif op == "T*":
                tlm = _mat_mul((1, 0, 0, 1, 0.0, -leading), tlm)
                tm = tlm
            elif op == "Tj" and stack:
                show(stack[-1] if isinstance(stack[-1], bytes) else b"")
            elif op == "'" and stack:
                tlm = _mat_mul((1, 0, 0, 1, 0.0, -leading), tlm)
                tm = tlm
                show(stack[-1] if isinstance(stack[-1], bytes) else b"")
            elif op == '"' and len(stack) >= 3:
                tlm = _mat_mul((1, 0, 0, 1, 0.0, -leading), tlm)
                tm = tlm
                show(stack[-1] if isinstance(stack[-1], bytes) else b"")
            elif op == "TJ" and stack and isinstance(stack[-1], list):
                parts = [p for p in stack[-1] if isinstance(p, bytes)]
                show(b"".join(parts))
            elif op == "cm" and len(stack) >= 6:
                ctm = _mat_mul(tuple(float(v) for v in stack[-6:]), ctm)
            elif op == "q":
                gstack.append(ctm)
            elif op == "Q":
                if gstack:
                    ctm = gstack.pop()
            elif op == "Do" and stack and depth < 8:
                name = str(stack[-1])
                xo = pdf.resolve(xobjs.get(name))
                if isinstance(xo, tuple) and isinstance(xo[0], dict):
                    xd = xo[0]
                    sub = pdf.resolve(xd.get("Subtype"))
                    if sub == "Form":
                        inner_res = pdf.resolve(xd.get("Resources")) or resources
                        mtx = pdf.resolve(xd.get("Matrix")) or [1, 0, 0, 1, 0, 0]
                        inner_ctm = _mat_mul(tuple(float(v) for v in mtx), ctm)
                        try:
                            seq = _interpret(pdf, pdf.stream_bytes(xo), inner_res,
                                             page_no, runs, inner_ctm, seq, depth + 1,
                                             budget, rot_runs)
                        except _BudgetExceeded:
                            # exhaustion is not a broken form: it must
                            # reach extract_realpdf for graceful doc-level
                            # truncation, through every containment layer
                            raise
                        except Exception:
                            pass
                    elif sub == "Image":
                        dev = _mat_mul(_ID, ctm)
                        runs.append((page_no, dev[5], dev[4], 0.0, seq, "img",
                                     image_media_ref(xo[1]), False, False))
                        seq += 1
        except _BudgetExceeded:
            raise
        except Exception:
            pass
        stack.clear()
    return seq


# -- layout: runs → lines → blocks → spans -----------------------------------

_LINE_Y_TOL = 2.5
_GAP_FACTOR = 1.9
_HEADING_RATIO = 1.15

# a line opening with one of these starts its own block: the block fold
# otherwise joins a tight-spaced bullet/numbered list into one paragraph
# blob ("• a • b • c"), where the reference's layout engine emits one
# block per list item. Wrapped continuation lines (no marker) still merge
# into their item by the normal size/gap rule. Bare hyphens need trailing
# whitespace (minus signs, ranges); CJK enumerators (1、 一、) carry their
# own delimiter.
_LIST_MARKER_RE = re.compile(
    r"^(?:[•‣▪◦·●○◆■]"                 # bullet glyphs
    r"|[-–—*]\s"                        # dash/star bullets (space required)
    r"|\(?\d{1,3}[.)、](?!\d)\s?"       # 1.  2)  (3)  4、 — not 1.5 (decimal)
    r"|[a-z][.)]\s"                     # a.  b) — lowercase only: an
                                        # uppercase 'A. Smith' opening a
                                        # wrapped citation line is a name
                                        # initial, not an enumerator
    r"|[一二三四五六七八九十百]+[、.．]"  # 一、 十二、
    r")")


def _is_math_glyph(ch: str) -> bool:
    cp = ord(ch)
    return (
        0x2200 <= cp <= 0x22FF      # mathematical operators (∀ … ⋿)
        or 0x27C0 <= cp <= 0x27EF   # misc mathematical symbols-A
        or 0x2980 <= cp <= 0x29FF   # misc mathematical symbols-B
        or 0x2A00 <= cp <= 0x2AFF   # supplemental operators
        or 0x1D400 <= cp <= 0x1D7FF  # mathematical alphanumerics
        or cp in (0x00B1, 0x00D7, 0x00F7)  # ± × ÷ (latin-1 block)
    )


def _is_cjk(ch: str) -> bool:
    cp = ord(ch)
    return (
        0x4E00 <= cp <= 0x9FFF or 0x3400 <= cp <= 0x4DBF
        or 0x3000 <= cp <= 0x303F or 0xFF00 <= cp <= 0xFFEF
        or 0x2E80 <= cp <= 0x2FDF  # CJK radicals + Kangxi (ToUnicode quirk)
        or 0xF900 <= cp <= 0xFAFF or 0x20000 <= cp <= 0x2FA1F
    )


def _join(parts: list[str]) -> str:
    out = ""
    for p in parts:
        if not out:
            out = p
        elif out and p and (_is_cjk(out[-1]) or _is_cjk(p[0])):
            out += p
        elif (
            # line-break hyphenation: 'informa-' + 'tion' → 'information'.
            # Lowercase-to-lowercase only, so 'IL-' + '6' and 'COVID-'
            # keep their hyphen. A compound wrapped exactly at its own
            # hyphen ('state-' + 'of-the-art') is indistinguishable and
            # loses it — syllable hyphenation in justified text is far
            # more common, so this is the standard extractor trade
            len(out) >= 2 and out[-1] == "-" and out[-2].islower()
            and p[:1].islower()
        ):
            out = out[:-1] + p
        else:
            out += " " + p
    return out


def _run_width(txt: str, size: float) -> float:
    """Rough advance estimate: CJK glyphs ~1 em, latin ~0.55 em."""
    if size <= 0:
        size = 10.0
    return sum(size * (1.0 if _is_cjk(ch) else 0.55) for ch in txt)


_CELL_GAP_EM = 2.0  # x-gap beyond this many em starts a new table cell


def _assemble_cells(parts: list[tuple[float, int, str, float]]) -> list[tuple[float, str]]:
    """Join positioned runs of one visual line into CELLS. Within a cell a
    space is inserted only when the x-gap between a run's estimated end
    and the next run's start exceeds the word margin (pdfminer-style), so
    per-glyph-positioned text ('2 0 2 5') reassembles without phantom
    spaces; a much larger gap (≥ _CELL_GAP_EM em, never between
    CJK-adjacent runs) splits a new cell — the column evidence the table
    detector consumes. Joining cells with single spaces reproduces the
    plain line text exactly."""
    cells: list[tuple[float, str]] = []
    out = ""
    cell_x = 0.0
    prev_end = None
    for x, _seq, txt, size, *_m in parts:
        if not out:
            out = txt
            cell_x = x
        else:
            gap = None if prev_end is None else x - prev_end
            if _is_cjk(out[-1]) and txt and _is_cjk(txt[0]):
                out += txt
            elif gap is not None and gap >= _CELL_GAP_EM * max(size, 6.0):
                cells.append((cell_x, out))
                out = txt
                cell_x = x
            elif gap is not None and gap > 0.33 * max(size, 6.0):
                out += " " + txt
            elif gap is None and not out.endswith(" "):
                out += " " + txt
            else:
                out += txt
        prev_end = x + _run_width(txt, size)
    if out:
        cells.append((cell_x, out))
    return cells


_COL_ALIGN_TOL = 8.0   # pt: cell-start x alignment across rows
_ROW_GAP_FACTOR = 2.6  # max vertical gap between table rows (× font size)


def _detect_tables(lines: list[dict]) -> dict[int, int]:
    """Geometric table-region detection (the MinerU table-detect analogue,
    north_star): ≥2 consecutive lines on one page whose runs split into
    the SAME number (≥2) of cells with column x-starts aligned within
    tolerance form a table region. Conservative by design — headers and
    ragged multi-column prose don't align across consecutive rows."""
    groups: dict[int, int] = {}
    i = 0
    n = len(lines)
    while i < n:
        base = lines[i]
        if len(base["cells"]) < 2:
            i += 1
            continue
        j = i
        cols = [x for x, _ in base["cells"]]
        while j + 1 < n:
            nxt = lines[j + 1]
            if (
                nxt["page"] != base["page"]
                or len(nxt["cells"]) != len(cols)
                or (lines[j]["y"] - nxt["y"]) > _ROW_GAP_FACTOR * max(nxt["size"], 6.0)
                or any(abs(x - cx) > _COL_ALIGN_TOL for (x, _), cx in zip(nxt["cells"], cols))
            ):
                break
            j += 1
        if j > i:
            groups[i] = j
            i = j + 1
        else:
            i += 1
    return groups


# -- page furniture (running headers / footers / page numbers) ---------------

_DIGIT_RUN_RE = re.compile(r"\d+")
_FURNITURE_BAND_PT = 18.0  # page-edge band: pt from the top/bottom-most line
_FURNITURE_MAX_CHARS = 120
_FURNITURE_MIN_PAGE_LINES = 4  # sparse pages neither contribute nor strip
# digit-normalized shapes that are furniture WITHOUT any letters: bare
# page numbers and n-of-m forms. Anything else needs ≥3 letters/CJK to
# qualify — otherwise a numeric table row at a page edge ('123  456' →
# '#  #') digit-matches its siblings on every page and vanishes.
_PAGE_NO_RE = re.compile(
    r"^(?:-*\s*#\s*-*|#\s*/\s*#|page\s*#(?:\s*(?:of|/)\s*#)?|第\s*#\s*页)$",
    re.IGNORECASE)
_LETTERS_RE = re.compile(r"[^\W\d_#]", re.UNICODE)


def _strip_page_furniture(lines: list[dict]) -> list[dict]:
    """Drop running page headers, footers and page numbers — the
    'discarded blocks' of the reference's layout model (main-content
    extraction, north_rule). A line is furniture when its
    digit-normalized text (digit runs → '#', so 'Page 3' matches
    'Page 12' and '1/2' matches '2/2') recurs in the same page-edge band
    — within 18 pt of the page's top- or bottom-most line; a POSITIONAL
    band, so sparse pages don't stretch it over body text — on ≥60% of
    pages (minimum 2). Single-page documents are untouched: repetition is
    the evidence, and without it a dateline is indistinguishable from
    content."""
    pages: dict[int, list[dict]] = {}
    for ln in lines:
        pages.setdefault(ln["page"], []).append(ln)
    if len(pages) < 2:
        return lines
    keys: dict[tuple[str, str], set[int]] = {}  # (band, key) -> pages seen
    tag: dict[int, tuple[str, str]] = {}        # id(line) -> (band, key)
    for page, pls in pages.items():
        if len(pls) < _FURNITURE_MIN_PAGE_LINES:
            continue  # too sparse to tell body from furniture
        ys = [ln["y"] for ln in pls]
        top, bot = max(ys), min(ys)
        for ln in pls:
            t = _DIGIT_RUN_RE.sub("#", ln["text"].strip())
            if not t or len(t) > _FURNITURE_MAX_CHARS:
                continue
            if not _PAGE_NO_RE.match(t) and len(_LETTERS_RE.findall(t)) < 3:
                continue  # numeric-only line that isn't a page-number shape
            if ln["y"] >= top - _FURNITURE_BAND_PT:
                band = "top"
            elif ln["y"] <= bot + _FURNITURE_BAND_PT:
                band = "bot"
            else:
                continue
            keys.setdefault((band, t), set()).add(page)
            tag[id(ln)] = (band, t)
    need = max(2, -(-len(pages) * 3 // 5))  # ceil(0.6 × pages)
    drop = {k for k, seen in keys.items() if len(seen) >= need}
    if not drop:
        return lines
    # survivor guard: if stripping would leave any page with fewer than
    # two lines, the "furniture" there was most of the page — cancel the
    # offending keys entirely rather than strip that page inconsistently
    while drop:
        cancelled = False
        for pls in pages.values():
            kept = [ln for ln in pls if tag.get(id(ln)) not in drop]
            if len(kept) < 2:
                for ln in pls:
                    k = tag.get(id(ln))
                    if k in drop:
                        drop.discard(k)
                        cancelled = True
        if not cancelled:
            break
    if not drop:
        return lines
    return [ln for ln in lines if tag.get(id(ln)) not in drop]


# -- multi-column reading order ----------------------------------------------

_GUTTER_HALF_PT = 6.0     # clearance required on each side of a column gutter
_COL_MIN_BOTH = 8         # min lines with content on both sides of the gutter
_COL_MAX_SPAN_FRAC = 0.2  # fraction of lines allowed to cross it (titles)
_COL_MIN_SUPPORT = 0.8    # fraction of lines that must be consistent with it
_COL_MIN_FILL = 0.45      # mean text fill of each column (tables are sparser)


def _cell_extents(ln: dict) -> list[tuple[float, float]]:
    ext = ln.get("_ext")  # memoized: _find_gutter and the ordering loop
    if ext is None:       # both walk every line of a multi-column page
        size = max(ln["size"], 6.0)
        ext = ln["_ext"] = [(x, x + _run_width(txt, size)) for x, txt in ln["cells"]]
    return ext


def _find_gutter(plines: list[dict]) -> float | None:
    """Detect a two-column page: a vertical whitespace band that most
    lines either stay on one side of or jump across (one cell per side),
    centrally located, with BOTH columns well filled by text. The fill
    condition separates a two-column page from a two-column table —
    table cells are short relative to their column, body text fills it
    (the MinerU layout/reading-order analogue, north_star). Conservative
    on purpose: a miss degrades to the old top-to-bottom order, a
    misfire would silently reorder table rows."""
    if len(plines) < _COL_MIN_BOTH + 2:
        return None
    ext = [_cell_extents(ln) for ln in plines if ln["cells"]]
    if not ext:
        return None
    x0 = min(e[0][0] for e in ext)
    x1 = max(e[-1][1] for e in ext)
    width = x1 - x0
    if width <= 100.0:
        return None
    cand: dict[int, int] = {}
    for pieces in ext:
        for (_s0, e0), (s1, _e1) in zip(pieces, pieces[1:]):
            if s1 - e0 >= 2 * _GUTTER_HALF_PT:
                q = round((e0 + s1) / 2 / 8.0)
                cand[q] = cand.get(q, 0) + 1
    best: tuple[tuple[int, int], float] | None = None
    for q in sorted(cand, key=cand.get, reverse=True)[:12]:
        xs = q * 8.0
        if not (x0 + 0.30 * width <= xs <= x0 + 0.70 * width):
            continue
        both_n = span_n = side_n = 0
        fill_l: list[float] = []
        fill_r: list[float] = []
        for pieces in ext:
            if any(s < xs - _GUTTER_HALF_PT and e > xs + _GUTTER_HALF_PT
                   for s, e in pieces):
                span_n += 1
                continue
            lp = [p for p in pieces if (p[0] + p[1]) / 2 <= xs]
            rp = [p for p in pieces if (p[0] + p[1]) / 2 > xs]
            if lp and rp:
                both_n += 1
            else:
                side_n += 1
            if lp:
                fill_l.append((lp[-1][1] - lp[0][0]) / max(xs - _GUTTER_HALF_PT - x0, 1.0))
            if rp:
                fill_r.append((rp[-1][1] - rp[0][0]) / max(x1 - xs - _GUTTER_HALF_PT, 1.0))
        total = len(ext)
        if (
            both_n >= _COL_MIN_BOTH
            and span_n <= _COL_MAX_SPAN_FRAC * total
            and both_n + side_n >= _COL_MIN_SUPPORT * total
            and fill_l and sum(fill_l) / len(fill_l) >= _COL_MIN_FILL
            and fill_r and sum(fill_r) / len(fill_r) >= _COL_MIN_FILL
        ):
            score = (both_n, -span_n)
            if best is None or score > best[0]:
                best = (score, xs)
    return None if best is None else best[1]


def _split_line(ln: dict, xs: float) -> tuple[dict | None, dict | None]:
    """Split one bucketed visual line at the gutter into per-column lines
    (same-y runs from both columns land in one y-bucket)."""

    def mk(parts: list) -> dict | None:
        if not parts:
            return None
        d = {"page": ln["page"], "y": ln["y"], "size": max(p[3] for p in parts),
             "parts": parts}
        d["cells"] = _assemble_cells(parts)
        d["text"] = " ".join(c for _x, c in d["cells"])
        d["x"] = parts[0][0]
        chars = sum(len(p[2]) for p in parts) or 1
        d["mono"] = sum(len(p[2]) for p in parts if p[4]) / chars >= 0.66
        return d

    lp: list = []
    rp: list = []
    for part in ln["parts"]:
        x, _seq, txt, psize = part[:4]
        (lp if x + _run_width(txt, psize) / 2 <= xs else rp).append(part)
    return mk(lp), mk(rp)


_MAX_COL_DEPTH = 2  # nested gutter splits: 2 → up to four columns


def _order_page(plines: list[dict], pfigs: list[tuple]) -> list[tuple[str, object]]:
    return _order_region(plines, pfigs, 0)


def _order_region(plines: list[dict], pfigs: list[tuple],
                  depth: int) -> list[tuple[str, object]]:
    """A page region's lines + figures in reading order as ('line', dict)
    / ('fig', media_ref) items. Single-column regions keep top-to-bottom
    order; a detected gutter emits left column then right column per
    SEGMENT, where full-width (gutter-crossing) lines — titles, section
    heads — delimit segments. Each side recurses (three-column layouts:
    the right side of the first split still holds two columns), with the
    same conservative evidence thresholds per level and a depth cap."""
    plines = sorted(plines, key=lambda ln: (-ln["y"], ln["x"]))
    pfigs = sorted(pfigs, key=lambda f: (-f[0], f[2]))
    items: list[tuple[str, object]] = []
    gutter = _find_gutter(plines) if depth < _MAX_COL_DEPTH else None
    if gutter is None:
        fi = 0
        for ln in plines:
            while fi < len(pfigs) and pfigs[fi][0] > ln["y"]:
                items.append(("fig", pfigs[fi][3]))
                fi += 1
            items.append(("line", ln))
        items.extend(("fig", f[3]) for f in pfigs[fi:])
        return items

    seg_lines: tuple[list[dict], list[dict]] = ([], [])
    seg_figs: tuple[list[tuple], list[tuple]] = ([], [])

    def flush_seg() -> None:
        for side in (0, 1):
            items.extend(_order_region(seg_lines[side], seg_figs[side], depth + 1))
            seg_lines[side].clear()
            seg_figs[side].clear()

    fi = 0

    def place_figs(limit_y: float) -> None:
        nonlocal fi
        while fi < len(pfigs) and pfigs[fi][0] > limit_y:
            f = pfigs[fi]
            seg_figs[0 if f[1] <= gutter else 1].append(f)
            fi += 1

    for ln in plines:
        place_figs(ln["y"])
        if any(s < gutter - _GUTTER_HALF_PT and e > gutter + _GUTTER_HALF_PT
               for s, e in _cell_extents(ln)):
            flush_seg()
            items.append(("line", ln))
            continue
        left, right = _split_line(ln, gutter)
        if left is not None:
            seg_lines[0].append(left)
        if right is not None:
            seg_lines[1].append(right)
    place_figs(float("-inf"))
    flush_seg()
    return items


def _runs_to_spans(runs: list) -> list[Span]:
    # group text runs into lines per page: same y within tolerance.
    # O(1) placement via (page, quantized-y) buckets — a naive scan over
    # all lines is O(n²) and crawls on couple-hundred-page documents
    # (the 167 MB-PDF analogue, reference PROJECT_OVERVIEW.md:769).
    lines: list[dict] = []  # {page, y, size, parts:[(x, seq, txt, size, mono)]}
    buckets: dict[tuple[int, int], dict] = {}
    figures: list[tuple[int, float, float, int, str]] = []
    for page, y, x, size, seq, kind, payload, mono, mathf in runs:
        if kind == "img":
            figures.append((page, y, x, seq, payload))
            continue
        if not payload.strip():
            continue
        qy = int(y // _LINE_Y_TOL)
        placed = None
        for q in (qy, qy - 1, qy + 1):
            cand = buckets.get((page, q))
            if cand is not None and abs(cand["y"] - y) <= _LINE_Y_TOL:
                placed = cand
                break
        if placed is None:
            placed = {"page": page, "y": y, "size": size, "parts": []}
            lines.append(placed)
            buckets[(page, qy)] = placed
        placed["parts"].append((x, seq, payload, size, mono, mathf))
        placed["size"] = max(placed["size"], size)

    for ln in lines:
        ln["parts"].sort(key=lambda p: (round(p[0], 1), p[1]))
        ln["cells"] = _assemble_cells(ln["parts"])
        ln["text"] = " ".join(c for _x, c in ln["cells"])
        ln["x"] = ln["parts"][0][0]
        chars = sum(len(p[2]) for p in ln["parts"]) or 1
        ln["mono"] = sum(len(p[2]) for p in ln["parts"] if p[4]) / chars >= 0.66
        # formula evidence: math-font character majority, or — for
        # embedded fonts whose names say nothing — density of math
        # glyphs (ToUnicode-mapped operators, ∀…⋿ and the supplemental
        # operator blocks) among the line's non-space characters
        mchars = sum(len(p[2]) for p in ln["parts"] if p[5])
        glyphs = [c for c in ln["text"] if not c.isspace()]
        mglyphs = sum(1 for c in glyphs if _is_math_glyph(c))
        ln["math"] = (mchars * 2 >= chars
                      or (len(glyphs) >= 3 and mglyphs * 4 >= len(glyphs)))

    lines = _strip_page_furniture(lines)

    # per-page reading order (multi-column aware), figures interleaved
    by_page_lines: dict[int, list[dict]] = {}
    for ln in lines:
        by_page_lines.setdefault(ln["page"], []).append(ln)
    by_page_figs: dict[int, list[tuple]] = {}
    for page, y, x, seq, payload in figures:
        by_page_figs.setdefault(page, []).append((y, x, seq, payload))
    stream: list[tuple[str, object]] = []
    for page in sorted(set(by_page_lines) | set(by_page_figs)):
        stream.extend(_order_page(by_page_lines.get(page, []),
                                  by_page_figs.get(page, [])))
    lines = [o for k, o in stream if k == "line"]
    pre_figs: dict[int, list[str]] = {}  # line index -> figure refs before it
    idx = 0
    for k, o in stream:
        if k == "fig":
            pre_figs.setdefault(idx, []).append(o)
        else:
            idx += 1

    table_end = _detect_tables(lines)  # start line index -> end index (incl.)

    sizes = sorted(ln["size"] for ln in lines if ln["text"].strip())
    body_size = sizes[len(sizes) // 2] if sizes else 10.0

    spans: list[Span] = []
    heading_sizes: dict[int, float] = {}  # span index -> font size
    cur: dict | None = None

    def flush() -> None:
        nonlocal cur
        if cur is None:
            return
        if cur["math_n"] * 2 > len(cur["lines"]):
            # math-font/glyph majority → displayed formula (checked
            # before the heading rule: equations are often set larger
            # than body text). Reference pipeline: formula_enable=True,
            # document_service.py:240-246; 'formulas_detected' class.
            kind, txt = "formula", _join(cur["lines"])
        elif cur["size"] >= body_size * _HEADING_RATIO and cur["size"] > 0:
            kind, txt = "heading", _join(cur["lines"])
            heading_sizes[len(spans)] = cur["size"]
        elif cur["mono_n"] * 2 > len(cur["lines"]):
            # fixed-pitch majority → code block; keep the line structure
            # (code is line-significant, prose-joining would destroy it)
            kind, txt = "code", "\n".join(cur["lines"])
        else:
            kind, txt = "paragraph", _join(cur["lines"])
        spans.append(Span(kind, normalize_text(txt), "", -1))
        cur = None

    li = 0
    while li < len(lines):
        for payload in pre_figs.get(li, ()):
            flush()
            spans.append(Span("figure", "", payload, -1))
        ln = lines[li]
        end = table_end.get(li)
        if end is not None:
            flush()
            grid = "\n".join(
                "\t".join(c for _x, c in lines[k]["cells"]) for k in range(li, end + 1)
            )
            spans.append(Span("table", normalize_text(grid), "", -1))
            # figures anchored inside the table region surface after it
            for k in range(li + 1, end + 1):
                for payload in pre_figs.get(k, ()):
                    spans.append(Span("figure", "", payload, -1))
            li = end + 1
            continue
        same_block = (
            cur is not None
            and cur["page"] == ln["page"]
            and abs(cur["size"] - ln["size"]) < 0.5
            # upward jumps (negative gap) are column transitions on a
            # multi-column page — start a new block, never merge up
            and 0 <= (cur["last_y"] - ln["y"]) <= _GAP_FACTOR * max(ln["size"], 6.0)
            and not _LIST_MARKER_RE.match(ln["text"])
            # code and prose never share a block, whatever the spacing
            and (cur["mono_n"] * 2 > len(cur["lines"])) == ln.get("mono", False)
            # neither do formulas and prose: a displayed equation between
            # two paragraph lines must not dissolve into the paragraph
            and (cur["math_n"] * 2 > len(cur["lines"])) == ln.get("math", False)
        )
        if same_block:
            cur["lines"].append(ln["text"])
            cur["last_y"] = ln["y"]
            cur["mono_n"] += 1 if ln.get("mono") else 0
            cur["math_n"] += 1 if ln.get("math") else 0
        else:
            flush()
            cur = {"page": ln["page"], "size": ln["size"], "last_y": ln["y"],
                   "lines": [ln["text"]], "mono_n": 1 if ln.get("mono") else 0,
                   "math_n": 1 if ln.get("math") else 0}
        li += 1
    flush()
    for payload in pre_figs.get(len(lines), ()):
        spans.append(Span("figure", "", payload, -1))
    return finalize(rank_heading_levels(spans, heading_sizes))


def extract_realpdf(content: bytes) -> list[Span]:
    """Real PDF bytes → ordered span IR (the MinerU-path analogue)."""
    if not content[:1024].lstrip()[:5].startswith(b"%PDF-"):
        raise ValueError("realpdf: missing %PDF header")
    pdf = _Pdf(content)
    root = pdf.resolve(pdf.trailer.get("Root"))
    if not isinstance(root, dict):
        raise ValueError("realpdf: no document catalog")
    pages: list[tuple[dict, dict, int]] = []  # (page, inherited res, rotate)
    visited: set[int] = set()  # a /Kids entry that cycles back to an already
    # walked node would otherwise blow up exponentially (depth cap alone
    # doesn't help: two self-references per node is 2^64 calls)

    def walk(node, inherited_res, inherited_rot=0, depth=0):
        node = pdf.resolve(node)
        if not isinstance(node, dict) or depth > 64 or len(pages) > 10000:
            return
        if id(node) in visited:
            return
        visited.add(id(node))
        res = pdf.resolve(node.get("Resources")) or inherited_res
        rot = pdf.resolve(node.get("Rotate"))  # inheritable, §7.7.3.4
        try:
            rot = int(rot) % 360 if rot is not None else inherited_rot
        except (TypeError, ValueError):
            rot = inherited_rot
        t = pdf.resolve(node.get("Type"))
        if t == "Pages" or (t is None and node.get("Kids") is not None):
            for kid in pdf.resolve(node.get("Kids")) or []:
                walk(kid, res, rot, depth + 1)
        elif t == "Page":
            pages.append((node, res or {}, rot))

    walk(root.get("Pages"), {})
    if not pages:
        raise ValueError("realpdf: no pages")

    runs: list = []
    seq = 0
    # ONE interpreter budget for the whole document: per-page budgets
    # would let 10k pages sharing a single big (or form-amplified)
    # stream multiply the cap right back into a CPU/memory bomb
    budget = [limits.MAX_DECODED_BYTES]
    # display transform for the page /Rotate attribute (clockwise view
    # rotation): scanner/OCR output often writes content pre-rotated
    # with a compensating /Rotate, so the rotated-baseline decoration
    # filter must see DISPLAY coordinates, not raw PDF space — without
    # this, every text run on such a page would be dropped as rotated
    _ROT_CTM = {
        0: _ID,
        90: (0.0, -1.0, 1.0, 0.0, 0.0, 0.0),
        180: (-1.0, 0.0, 0.0, -1.0, 0.0, 0.0),
        270: (0.0, 1.0, -1.0, 0.0, 0.0, 0.0),
    }
    # device (x, y) → reading-frame coordinates for a page whose text
    # baselines are uniformly rotated by the class angle (the inverse
    # view rotation: 90 = clockwise quarter turn, so (0,1) baselines
    # become (1,0))
    _UNROT = {
        90: lambda x, y: (y, -x),
        180: lambda x, y: (-x, -y),
        270: lambda x, y: (-y, x),
    }
    for page_no, (pg, res, rot) in enumerate(pages):
        contents = pdf.resolve(pg.get("Contents"))
        chunks: list[bytes] = []
        items = contents if isinstance(contents, list) else [pg.get("Contents")]
        for it in items:
            try:
                chunks.append(pdf.stream_bytes(it))
            except Exception:
                continue
        if not chunks:
            continue
        body = b"\n".join(chunks)
        start = len(runs)
        rot_runs: list = []
        truncated = False
        try:
            seq = _interpret(pdf, body, res, page_no, runs,
                             _ROT_CTM.get(rot, _ID), seq, budget=budget,
                             rot_runs=rot_runs)
        except _BudgetExceeded:
            # a legitimate very large document (summed decoded content
            # over MAX_DECODED_BYTES) degrades to a truncated extraction
            # instead of a whole-document error row; the per-op budget
            # re-check inside _interpret guarantees no further bytes are
            # interpreted past this point
            truncated = True
        if rot_runs:
            # majority-rotation rescue: content rotated in PDF space
            # without a compensating /Rotate. A class that outnumbers
            # this page's horizontal text runs is the page content —
            # re-map coordinates and keep; minority classes stay dropped
            # (sideways margin text / stamps).
            horiz = sum(1 for r in runs[start:] if r[5] == "t")
            by_class: dict[int, list] = {}
            for rr in rot_runs:
                by_class.setdefault(rr[0], []).append(rr)
            dominant = max(by_class, key=lambda k: len(by_class[k]))
            rescued = None
            if len(by_class[dominant]) > horiz:
                rescued = dominant
                unrot = _UNROT[dominant]
                for (_o, pno, y, x, eff, rseq, kind, txt, mono, mathf) in by_class[dominant]:
                    nx, ny = unrot(x, y)
                    runs.append((pno, ny, nx, eff, rseq, kind, txt, mono, mathf))
            # minority 180° runs (upside-down stamp, head-to-foot two-up
            # form) are still CONTENT: their baseline is x-axis-aligned so
            # y-bucketing lines them up like any horizontal run — keep
            # them rather than silently losing the text. Two conditions:
            # only on an unrescued (horizontal-frame) page — relative to a
            # 90/270-rescued reading frame a 180-in-PDF-space run is
            # SIDEWAYS decoration and its raw coordinates are in the wrong
            # frame entirely — and remapped through _UNROT[180] (negated
            # coords): 180° text advances toward -x and stacks toward +y,
            # so raw coordinates would reverse both the segment order
            # within a line and the line order within a multi-line stamp.
            # Minority 90/270 stays dropped (sideways margin text shreds
            # into one-glyph lines under y-bucketing).
            if rescued is None:
                u180 = _UNROT[180]
                for (_o, pno, y, x, eff, rseq, kind, txt, mono, mathf) in by_class.get(180, []):
                    nx, ny = u180(x, y)
                    runs.append((pno, ny, nx, eff, rseq, kind, txt, mono, mathf))
        if truncated:
            break
    return _runs_to_spans(runs)
