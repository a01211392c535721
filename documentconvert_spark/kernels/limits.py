"""Decompression-expansion guards shared by the byte-stream kernels, and
the capped decoders more than one kernel uses (zlib inflate, zip member
read, the MSB-first LZW of PDF LZWDecode and TIFF strips).

At corpus scale (10^12 docs) a single crafted document must not be able
to take down an executor: C7 containment turns *exceptions* into error
rows, but an unbounded `zlib.decompress` / LZW / RunLength expansion is
not an exception — it is a multi-GB allocation that OOM-kills the whole
JVM worker (and with filter *chains* the stages multiply: Flate alone
amplifies ~1000x, LZW ~3800x, RunLength 64x). Every decode therefore
raises `ValueError` past MAX_DECODED_BYTES, which the per-row dispatch
catches like any other corrupt-input error.

256 MiB comfortably covers real documents (the reference's largest
handled file is a 167 MB PDF *before* parse; individual content streams
are far smaller) while bounding worst-case memory per task.

MAX_PIXELS bounds every raster decoder's allocation (PNG, JPEG, GIF, BMP,
TIFF, WebP, each video frame and a video's whole frame budget) before it
is made: 4 MP is far above any text render. Every decoder reads it at
call time, so a test can lower it with ``monkeypatch.setattr(limits,
"MAX_PIXELS", n)``.
"""

from __future__ import annotations

import zlib

MAX_DECODED_BYTES = 1 << 28  # 256 MiB per decoded stream
MAX_PIXELS = 4 << 20  # 4 MP per decoded raster


def check_decoded_size(n: int, what: str = "stream") -> None:
    """Raise if a decode has expanded past the per-stream cap."""
    if n > MAX_DECODED_BYTES:
        raise ValueError(f"{what}: decoded size over {MAX_DECODED_BYTES} cap")


def inflate_capped(raw: bytes, what: str = "stream") -> bytes:
    """`zlib.decompress` that refuses to expand past MAX_DECODED_BYTES
    (a plain decompress on a crafted bomb allocates before we can check)."""
    d = zlib.decompressobj()
    out = d.decompress(raw, MAX_DECODED_BYTES)
    if d.unconsumed_tail:
        raise ValueError(f"{what}: decoded size over {MAX_DECODED_BYTES} cap")
    if not d.eof:
        # plain zlib.decompress raises here too — returning partial data
        # for a truncated stream would silently emit spans a complete
        # parse never produces (trailing garbage stays fine: eof is set
        # and the extra bytes land in unused_data)
        raise ValueError(f"{what}: truncated deflate stream")
    return out


def zip_read_capped(z, name: str) -> bytes:
    """`ZipFile.read` with the same expansion cap — the member's header
    size field lies on crafted archives, so read through the streaming
    decompressor and stop one byte past the cap."""
    with z.open(name) as f:
        out = f.read(MAX_DECODED_BYTES + 1)
    check_decoded_size(len(out), f"zip member {name}")
    return out


def _lzw_decode(raw: bytes, early_change: int = 1,
                cap: int | None = None) -> bytes:
    """LZWDecode (ISO 32000 §7.4.4, TIFF-style): 9→12-bit variable-width
    codes over 8-bit data; 256 clears the table, 257 is EOD, and the code
    width grows one entry early under /EarlyChange 1 (the default).
    `cap` tightens the decoded-size bound below the global budget —
    callers that know the exact output size (TIFF strips) pass it so a
    high-expansion blob can't burn CPU up to the 256 MiB ceiling."""
    out = bytearray()
    table: list[bytes] = [bytes([b]) for b in range(256)] + [b"", b""]
    prev: bytes | None = None
    width = 9
    buf = bits = 0
    if cap is None:
        cap = MAX_DECODED_BYTES  # read once per call (hot loop)
    for byte in raw:
        buf = (buf << 8) | byte
        bits += 8
        while bits >= width:
            bits -= width
            code = (buf >> bits) & ((1 << width) - 1)
            if code == 256:
                del table[258:]
                width = 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            size = len(table)
            if code < size:
                entry = table[code]
                if prev is not None and size < 4096:
                    table.append(prev + entry[:1])
            elif code == size and prev is not None:
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("pdf: corrupt LZW stream")
            out += entry
            if len(out) > cap:
                raise ValueError("pdf lzw: decoded size over cap")
            prev = entry
            if len(table) + early_change >= (1 << width) and width < 12:
                width += 1
    return bytes(out)
