"""Multimodal column operators: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
metadata struct; every per-payload transform is one ``parse`` function
run by the one Arrow-batched kernel, ``payload_rows``
(torcdb_spark/functions/payload.py), so payload bytes never round-trip
through Python row objects. Decode kernels are REAL for every format
decodable without codec libraries — PPM(P6 8/16-bit), BMP incl. 4/8-bit palette + RLE8, 1/2/4/8/16-bit PNG
incl. paletted +
Adam7 interlaced (stdlib zlib), 8/16-bit TIFF incl. LZW/Deflate/
PackBits strips + horizontal predictor, baseline +
extended-sequential (12-bit) + progressive + lossless (SOF3)
JPEG (operators/jpeg.py), GIF incl. interlaced + animated
(operators/gif.py LZW), lossless WebP/VP8L incl. all four transforms
(operators/webp.py), RIFF/WAVE audio (PCM 8/16/24/32-bit, IEEE
float, G.711 A-law/mu-law, IMA ADPCM),
MJPEG-in-AVI video — plus FFT spectral audio features; the remaining
formats (lossy WebP-VP8/MP3/AAC/arithmetic-coded JPEG) raise a documented
NotImplementedError where a deployment plugs in pillow/opencv/ffmpeg.

At 100 TB: payloads dominate; the operators keep them in Arrow buffers,
never collect them, and the repartition key is the id — size partitions
with spark.sql.files.maxPartitionBytes so a batch of payloads fits in
executor memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from torcdb_spark import regime
from torcdb_spark.functions.payload import payload_rows

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("byte_mean", T.DoubleType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: wrap the documents fixture as a media table (text bytes as
    the opaque payload) so the multimodal plumbing is exercised by real
    fixture data."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("n_frames"),
    )


def decode_image(payload: bytes):
    """Image decode kernel → (height, width, channels) uint8 ndarray.

    REAL decoders for the two formats decodable with numpy alone:

    - **PPM (P6)**: binary Portable PixMap — ASCII header
      ``P6 <w> <h> <maxval>`` then raw RGB bytes;
    - **BMP**: 24/32-bit BI_RGB Windows bitmaps (BITMAPINFOHEADER),
      bottom-up row order with 4-byte row padding, BGR(A) channel order,
      plus 4/8-bit palette (BGRA quads, MSB-first nibbles) and RLE8
      (runs, absolute mode, EOL/EOB/delta escapes).

    Plus pure-numpy decoders for PNG (stdlib zlib; paletted via PLTE
    gather), uncompressed chunky 8/16-bit TIFF, and **baseline,
    extended-sequential (12-bit), progressive, AND lossless (SOF3) JPEG**
    (operators/jpeg.py: DHT canonical Huffman, 8/16-bit DQT,
    dequant + vectorized IDCT, 4:2:0/4:2:2/4:4:4, restart markers,
    T.81 G.2 successive-approximation scan accumulation), plus GIF
    (operators/gif.py) and lossless WebP (operators/webp.py: full VP8L
    incl. predictor/cross-color/subtract-green/color-indexing
    transforms, color cache, LZ77, meta prefix codes). Lossy WebP
    (VP8) / arithmetic coding raise NotImplementedError — a deployment
    installs pillow/opencv and extends the dispatch. The Spark-side plumbing (payload_rows batching, binary
    Arrow buffers) is format-agnostic.
    """
    import numpy as np

    if payload is None or len(payload) < 2:
        raise ValueError("empty payload")
    if payload[:2] == b"P6":
        # header: magic, width, height, maxval — whitespace/comment separated
        pos, fields = 2, []
        while len(fields) < 3:
            while pos < len(payload) and payload[pos : pos + 1].isspace():
                pos += 1
            if payload[pos : pos + 1] == b"#":  # comment to EOL
                while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                    pos += 1
                continue
            start = pos
            while pos < len(payload) and not payload[pos : pos + 1].isspace():
                pos += 1
            fields.append(int(payload[start:pos]))
        pos += 1  # single whitespace after maxval
        w, h, maxval = fields
        if maxval > 65535 or maxval <= 0:
            raise ValueError(f"PPM maxval out of range: {maxval}")
        if maxval > 255:
            # 16-bit samples: two bytes each, big-endian (PPM spec);
            # rescale to 8-bit with integer round-half-up so the result
            # is deterministic across numpy versions
            need = w * h * 3 * 2
            raw = payload[pos : pos + need]
            if len(raw) < need:
                raise ValueError(f"truncated PPM: {len(raw)} < {need}")
            wide = (
                np.frombuffer(raw, dtype=">u2")
                .astype(np.uint32)
                .reshape(h, w, 3)
            )
            return ((wide * 255 + maxval // 2) // maxval).astype(np.uint8)
        need = w * h * 3
        raw = payload[pos : pos + need]
        if len(raw) < need:
            raise ValueError(f"truncated PPM: {len(raw)} < {need}")
        return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)
    if payload[:2] == b"BM":
        off = int.from_bytes(payload[10:14], "little")
        hdr_size = int.from_bytes(payload[14:18], "little")
        if hdr_size < 40:
            raise NotImplementedError("pre-BITMAPINFOHEADER BMP")
        w = int.from_bytes(payload[18:22], "little", signed=True)
        h = int.from_bytes(payload[22:26], "little", signed=True)
        bpp = int.from_bytes(payload[28:30], "little")
        comp = int.from_bytes(payload[30:34], "little")
        clr_used = int.from_bytes(payload[46:50], "little")
        ok = (comp == 0 and bpp in (4, 8, 24, 32)) or (
            comp == 1 and bpp == 8
        )
        if not ok:
            raise NotImplementedError(f"BMP bpp={bpp} compression={comp}")
        flip = h > 0  # positive height = bottom-up storage
        h = abs(h)
        if bpp in (4, 8):  # palette indices → BGRA quads after the header
            n_pal = clr_used or (1 << bpp)
            pal_off = 14 + hdr_size
            pal = np.frombuffer(
                payload[pal_off : pal_off + 4 * n_pal], dtype=np.uint8
            ).reshape(-1, 4)[:, [2, 1, 0]]  # BGRA → RGB
            idx = np.zeros((h, w), dtype=np.int64)
            if comp == 1:  # RLE8 (BI_RLE8), bottom-up by definition
                x = y = 0
                i = off
                while i + 1 < len(payload):
                    n, v = payload[i], payload[i + 1]
                    i += 2
                    if n:  # encoded run
                        if y >= h or x + n > w:
                            raise ValueError("BMP RLE8 run out of bounds")
                        idx[y, x : x + n] = v
                        x += n
                    elif v == 0:  # end of line
                        x, y = 0, y + 1
                    elif v == 1:  # end of bitmap
                        break
                    elif v == 2:  # delta
                        x += payload[i]
                        y += payload[i + 1]
                        i += 2
                        if x > w or y > h:  # == is legal until next write
                            raise ValueError("BMP RLE8 delta out of bounds")
                    else:  # absolute mode, word-aligned
                        if y >= h or x + v > w or i + v > len(payload):
                            raise ValueError(
                                "BMP RLE8 absolute run out of bounds"
                            )
                        idx[y, x : x + v] = np.frombuffer(
                            payload[i : i + v], dtype=np.uint8
                        )
                        x += v
                        i += v + (v & 1)
                idx = idx[::-1]
            else:
                per = 8 // bpp
                row_bytes = (w * bpp + 7) // 8
                stride = (row_bytes + 3) & ~3
                shifts = np.arange(per - 1, -1, -1) * bpp  # MSB-first
                for r in range(h):
                    s = off + r * stride
                    rb = np.frombuffer(
                        payload[s : s + row_bytes], dtype=np.uint8
                    )
                    idx[r] = (
                        (rb.reshape(-1, 1) >> shifts) & ((1 << bpp) - 1)
                    ).reshape(-1)[:w]
                if flip:
                    idx = idx[::-1]
            if idx.max(initial=0) >= pal.shape[0]:
                raise ValueError("BMP palette index out of range")
            return pal[idx]
        nch = bpp // 8
        stride = (w * nch + 3) & ~3  # rows pad to 4 bytes
        rows = []
        for r in range(h):
            s = off + r * stride
            rows.append(np.frombuffer(payload[s : s + w * nch], dtype=np.uint8)
                        .reshape(w, nch))
        img = np.stack(rows[::-1] if flip else rows)
        return img[:, :, [2, 1, 0] if nch == 3 else [2, 1, 0, 3]]  # BGR(A)→RGB(A)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(payload)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        return _decode_tiff(payload)
    if payload[:2] == b"\xff\xd8":
        from torcdb_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        from torcdb_spark.operators.gif import decode_gif

        return decode_gif(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from torcdb_spark.operators.webp import decode_webp

        return decode_webp(payload)  # lossless VP8L; VP8 lossy raises
    raise NotImplementedError(
        "only PPM(P6 8/16-bit), 24/32-bit + 4/8-bit-palette/RLE8 BMP, "
        "1/2/4/8/16-bit gray/palette + 8/16-bit RGB/RGBA PNG (incl. "
        "Adam7 interlaced), "
        "chunky 8/16-bit (none/LZW/Deflate/PackBits) "
        "TIFF, baseline + 12-bit + progressive + lossless JPEG, GIF, "
        "and lossless "
        "WebP (VP8L) decode without codec "
        "libraries; install pillow/opencv for lossy WebP (VP8) / "
        "arithmetic-coded JPEG and extend dispatch"
    )


def _tiff_lzw_decode(data: bytes) -> bytes:
    """TIFF 6.0 §13 LZW: MSB-first codes, Clear=256, EOI=257, first
    table slot 258, EarlyChange width bumps at 511/1023/2047."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = nbits = pos = 0
    strings: list[bytes] = []
    width = 9
    next_code = 258
    prev: bytes | None = None

    def reset():
        nonlocal strings, width, next_code, prev
        strings = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9
        next_code = 258
        prev = None

    reset()
    while True:
        while nbits < width:
            if pos >= len(data):
                return bytes(out)  # missing EOI: tolerate
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        nbits -= width
        code = (acc >> nbits) & ((1 << width) - 1)
        if code == CLEAR:
            reset()
            continue
        if code == EOI:
            return bytes(out)
        if prev is None:
            if code > 255:  # only literals are defined right after Clear
                raise ValueError("bad TIFF LZW code")
            entry = strings[code]
        elif code < next_code:
            entry = strings[code]
            strings.append(prev + entry[:1])
            next_code += 1
        elif code == next_code:
            entry = prev + prev[:1]
            strings.append(entry)
            next_code += 1
        else:
            raise ValueError("bad TIFF LZW code")
        out += entry
        prev = entry
        # EarlyChange, decoder side: the reader's table is one entry
        # behind the writer's, so the width bump lands at 2^w - 2
        # (510/1022/2046) — one code before the writer's 2^w - 1
        if next_code == (1 << width) - 2 and width < 12:
            width += 1


def _tiff_lzw_encode(data: bytes) -> bytes:
    """Matching TIFF LZW writer (EarlyChange, table reset near 12-bit
    capacity) — fixture synthesis for `_tiff_lzw_decode`."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = 0
    nbits = 0

    def put(code: int, width: int):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
        acc &= (1 << nbits) - 1

    table: dict[bytes, int] = {}
    width = 9
    next_code = 258

    def reset():
        nonlocal table, width, next_code
        table = {bytes([i]): i for i in range(256)}
        width = 9
        next_code = 258

    reset()
    put(CLEAR, width)
    cur = b""
    for b in data:
        cand = cur + bytes([b])
        if cand in table:
            cur = cand
            continue
        put(table[cur], width)
        table[cand] = next_code
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:  # EarlyChange
            width += 1
        cur = bytes([b])
        if next_code >= 4093:  # reset before the 12-bit table fills
            put(table[cur], width)
            put(CLEAR, width)
            reset()
            cur = b""
    if cur:
        put(table[cur], width)
    put(EOI, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _packbits_decode(data: bytes) -> bytes:
    """TIFF PackBits (Compression=32773): byte-RLE per TIFF 6.0 §9."""
    out = bytearray()
    i = 0
    while i < len(data):
        n = data[i]
        i += 1
        if n < 128:  # n+1 literal bytes
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:  # next byte repeats 257-n times
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """Matching PackBits writer: replicate runs ≥ 3, literal chunks
    otherwise (≤ 128 per control byte)."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        start = i
        i += run
        while i < n and i - start < 128:
            run = 1
            while i + run < n and run < 3 and data[i + run] == data[i]:
                run += 1
            if run >= 3:
                break
            i += 1
        out += bytes([i - start - 1]) + data[start:i]
    return bytes(out)


def _decode_tiff(payload: bytes):
    """TIFF decode: chunky 8- or 16-bit gray/RGB(A), both byte orders,
    strip-organized, Compression 1 (none), 5 (LZW, EarlyChange),
    8/32946 (Deflate) or 32773 (PackBits) — each strip decompresses
    independently — plus Predictor 2 (horizontal differencing, undone
    by a per-row cumulative sum in the sample domain). 16-bit samples
    are rescaled to uint8 with the same integer rounding as the 16-bit
    PPM path ((v*255 + 32767) // 65535), honoring the file's byte
    order. The IFD walk covers tags 256/257/258/259/273/277/278/279/317
    per TIFF 6.0 §2; planar and tiled layouts raise."""
    import zlib

    import numpy as np

    bo = "little" if payload[:2] == b"II" else "big"

    def u(b):
        return int.from_bytes(b, bo)

    ifd_off = u(payload[4:8])
    n = u(payload[ifd_off:ifd_off + 2])
    # type sizes per TIFF 6.0: SHORT=2, LONG=4 (the two used by these tags)
    tags: dict[int, list[int]] = {}
    for i in range(n):
        e = ifd_off + 2 + 12 * i
        tag = u(payload[e:e + 2])
        typ = u(payload[e + 2:e + 4])
        cnt = u(payload[e + 4:e + 8])
        size = {3: 2, 4: 4}.get(typ)
        if size is None:
            continue
        inline = payload[e + 8:e + 12]
        vals = []
        if size * cnt <= 4:
            for j in range(cnt):
                vals.append(u(inline[j * size:(j + 1) * size]))
        else:
            off = u(inline)
            for j in range(cnt):
                vals.append(u(payload[off + j * size:off + (j + 1) * size]))
        tags[tag] = vals

    w, h = tags[256][0], tags[257][0]
    comp = tags.get(259, [1])[0]
    pred = tags.get(317, [1])[0]
    spp = tags.get(277, [1])[0]
    bps = tags.get(258, [8])
    if not (all(b == 8 for b in bps) or all(b == 16 for b in bps)):
        raise NotImplementedError(
            f"TIFF bits-per-sample {bps} (uniform 8 or 16 only)"
        )
    if pred not in (1, 2):
        raise NotImplementedError(f"TIFF predictor={pred}")
    bytes_per = bps[0] // 8
    offsets = tags[273]
    counts = tags.get(279, [w * h * spp * bytes_per])
    strips = [payload[o:o + c] for o, c in zip(offsets, counts)]
    if comp == 1:
        pass
    elif comp == 5:
        strips = [_tiff_lzw_decode(s) for s in strips]
    elif comp in (8, 32946):
        strips = [zlib.decompress(s) for s in strips]
    elif comp == 32773:
        strips = [_packbits_decode(s) for s in strips]
    else:
        raise NotImplementedError(f"TIFF compression={comp} needs a codec")
    raw = b"".join(strips)
    need = w * h * spp * bytes_per
    if len(raw) < need:
        raise ValueError(f"truncated TIFF: {len(raw)} < {need}")
    if bytes_per == 2:
        dt = "<u2" if bo == "little" else ">u2"
        samples = np.frombuffer(raw[:need], dtype=dt).astype(np.uint32)
    else:
        samples = np.frombuffer(raw[:need], dtype=np.uint8).astype(np.uint32)
    samples = samples.reshape(h, w, spp)
    if pred == 2:  # horizontal differencing: per-row, per-channel cumsum
        mod = 1 << (bytes_per * 8)
        samples = np.cumsum(samples, axis=1) % mod
    if bytes_per == 2:
        img = ((samples * 255 + 32767) // 65535).astype(np.uint8)
    else:
        img = samples.astype(np.uint8)
    return img[:, :, 0] if spp == 1 else img


# Adam7 pass geometry: (x0, y0, dx, dy) per pass — pass p covers pixels
# (x0 + i·dx, y0 + j·dy), stored as an independently-filtered sub-image.
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_unfilter(raw, off: int, w: int, h: int, nch: int,
                  sample_bytes: int = 1):
    """Unfilter ``h`` PNG scanlines of ``w`` pixels × ``nch`` starting at
    ``raw[off]`` → ((h, w, nch) array, bytes consumed) — uint8 for 8-bit
    samples, uint16 (big-endian pairs joined) for 16-bit. PNG filters
    operate on BYTES with the left neighbor ``bpp = nch·sample_bytes``
    back, so one byte-level pass covers both depths. All five filter
    types; Sub is a per-byte-lane cumsum and Up a vectorized add;
    Average/Paeth have an inherent left-neighbor dependency, so those
    rows fall back to a per-byte loop (fine for the framed fixture
    images; a deployment swaps in a codec lib for bulk decode)."""
    import numpy as np

    bpp = nch * sample_bytes
    stride = w * bpp
    need = h * (stride + 1)
    if len(raw) - off < need:
        raise ValueError("truncated PNG pixel data")
    img = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for r in range(h):
        base = off + r * (stride + 1)
        ft = raw[base]
        line = np.frombuffer(
            raw[base + 1 : base + 1 + stride], dtype=np.uint8
        ).astype(np.int32)
        if ft == 0:  # None
            cur = line
        elif ft == 1:  # Sub: recon[x] = line[x] + recon[x-bpp] → lane cumsum
            cur = np.cumsum(line.reshape(w, bpp), axis=0).reshape(stride) % 256
        elif ft == 2:  # Up
            cur = (line + prev) % 256
        elif ft in (3, 4):  # Average / Paeth: left-neighbor dependency
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0  # left
                b = prev[x]                          # up
                if ft == 3:
                    cur[x] = (line[x] + (a + b) // 2) % 256
                else:
                    c = prev[x - bpp] if x >= bpp else 0  # upper-left
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[x] = (line[x] + pred) % 256
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        img[r] = cur.astype(np.uint8)
        prev = cur
    if sample_bytes == 2:  # big-endian 16-bit samples
        wide = img.reshape(h, w, nch, 2).astype(np.uint16)
        return (wide[..., 0] << 8) | wide[..., 1], need
    return img.reshape(h, w, nch), need


def _decode_png(payload: bytes):
    """Pure-stdlib PNG decode (zlib inflate + numpy unfilter) →
    (h, w, channels) uint8 array.

    Supports the common crawl-image subset: 8-bit AND 16-bit depth,
    color types 0 (gray), 2 (RGB), 6 (RGBA), all five scanline filter
    types (None/Sub/Up/Average/Paeth; see ``_png_unfilter`` — filters
    act on bytes with the left neighbor bpp back, so one pass covers
    both depths), and BOTH interlace modes — Adam7 streams decode
    pass-by-pass (each pass is an independently-filtered sub-image) and
    scatter into place with one strided assignment per pass. 16-bit
    samples rescale to the uint8 contract with round-half-up (the
    PPM/TIFF rule). Paletted PNGs (color type 3) decode via a
    PLTE lookup to RGB, interlaced or not (indices deinterlace before
    the lookup). Sub-byte depths (1/2/4-bit gray and palette) filter at
    the byte level per the spec and unpack MSB-first; gray expands by
    the exact 255/(2^d-1) factor.
    """
    import zlib

    import numpy as np

    pos, ihdr, idat, plte = 8, None, [], None
    while pos + 8 <= len(payload):
        length = int.from_bytes(payload[pos : pos + 4], "big")
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    bit_depth, color_type, _comp, _filt, interlace = ihdr[8:13]
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    sub_byte = bit_depth in (1, 2, 4) and color_type in (0, 3)
    ok_depth = (
        bit_depth == 8 or (bit_depth == 16 and color_type != 3) or sub_byte
    )
    if not ok_depth or nch is None or interlace not in (0, 1):
        raise NotImplementedError(
            f"PNG bit_depth={bit_depth} color_type={color_type} "
            f"interlace={interlace} "
            "(8/16-bit gray/gray+alpha/RGB/RGBA, 1/2/4/8-bit gray/palette, "
            "interlace 0/Adam7 only)"
        )
    if color_type == 3 and plte is None:
        raise ValueError("paletted PNG missing PLTE chunk")
    raw = zlib.decompress(b"".join(idat))

    def unfilter_pass(off, pw, ph):
        """One (sub-)image → ((ph, pw, nch) samples, bytes consumed).
        Sub-byte rows filter at the BYTE level (bpp=1 per the spec) and
        then unpack MSB-first."""
        if not sub_byte:
            return _png_unfilter(raw, off, pw, ph, nch, bit_depth // 8)
        row_bytes = (pw * bit_depth + 7) // 8
        packed, used = _png_unfilter(raw, off, row_bytes, ph, 1, 1)
        per = 8 // bit_depth
        mask = (1 << bit_depth) - 1
        shifts = np.arange(per - 1, -1, -1) * bit_depth  # MSB-first
        vals = (
            (packed.reshape(ph, row_bytes, 1) >> shifts) & mask
        ).reshape(ph, row_bytes * per)[:, :pw]
        return vals[:, :, None].astype(np.uint8), used

    if interlace == 0:
        out, _ = unfilter_pass(0, w, h)
    else:  # Adam7: seven independently-filtered passes, strided scatter
        out = np.zeros(
            (h, w, nch), dtype=np.uint16 if bit_depth == 16 else np.uint8
        )
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue  # pass is empty for this image size: zero bytes
            sub, used = unfilter_pass(off, pw, ph)
            off += used
            out[y0::dy, x0::dx] = sub
    if bit_depth == 16:
        # rescale to the uint8 contract with round-half-up (PPM/TIFF rule)
        out = (
            (out.astype(np.uint32) * 255 + 32767) // 65535
        ).astype(np.uint8)
    elif sub_byte and color_type == 0:
        # 1/2/4-bit gray: exact integer expansion (255/(2^d-1) is whole)
        out = (out * (255 // ((1 << bit_depth) - 1))).astype(np.uint8)
    if color_type == 3:
        # palette lookup: the reconstructed bytes are indices into PLTE's
        # RGB triples — one vectorized gather, output is always (h, w, 3)
        pal = np.frombuffer(plte, dtype=np.uint8)
        pal = pal[: len(pal) // 3 * 3].reshape(-1, 3)
        idx = out[:, :, 0]
        if idx.max(initial=0) >= pal.shape[0]:
            raise ValueError("PNG palette index out of range")
        out = pal[idx]
    return out


def encode_png(img, filter_type: int = 0, interlace: int = 0,
               bit_depth: int | None = None) -> bytes:
    """Minimal PNG encoder (test support + payload framing): 8-bit
    (uint8 input) or 16-bit (uint16 input, big-endian samples)
    gray/gray+alpha/RGB/RGBA, plus 1/2/4-bit grayscale via ``bit_depth`` (2-D
    input holding raw sample values, packed MSB-first). One filter type
    for every scanline (0=None default; 1/2 exercised by the decoder
    tests — Sub/Up are invertible from the recon BYTES directly, left
    neighbor bpp back, every depth). ``interlace=1`` emits Adam7: the
    image splits into the seven strided sub-images, each filtered
    independently in pass order — the exact stream layout
    ``_decode_png`` deinterlaces."""
    import struct
    import zlib

    import numpy as np

    a = np.asarray(img)
    sub_bits = bit_depth if bit_depth in (1, 2, 4) else None
    if sub_bits and (a.ndim != 2 or int(a.max(initial=0)) >> sub_bits):
        raise ValueError("sub-byte PNG needs 2-D samples < 2^bit_depth")
    sample_bytes = 2 if a.dtype == np.uint16 else 1
    a = a.astype(np.uint16 if sample_bytes == 2 else np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, nch = a.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[nch]
    bpp = nch * sample_bytes

    def filter_rows(sub) -> list:
        sh, sw = sub.shape[:2]
        if sub_bits:  # pack MSB-first, then filter the packed bytes
            per = 8 // sub_bits
            row_bytes = (sw * sub_bits + 7) // 8
            padded = np.zeros((sh, row_bytes * per), dtype=np.int32)
            padded[:, :sw] = sub[:, :, 0]
            shifts = np.arange(per - 1, -1, -1) * sub_bits
            flat = (
                (padded.reshape(sh, row_bytes, per) << shifts).sum(axis=2)
            ).astype(np.int32)
        elif sample_bytes == 2:
            flat = np.frombuffer(
                sub.astype(">u2").tobytes(), dtype=np.uint8
            ).reshape(sh, sw * bpp).astype(np.int32)
        else:
            flat = sub.reshape(sh, sw * bpp).astype(np.int32)
        rows = []
        for r in range(sh):
            recon = flat[r]
            if filter_type == 0:
                filt = recon
            elif filter_type == 1:  # Sub
                left = np.concatenate([np.zeros(bpp, dtype=np.int32),
                                       recon[:-bpp]])
                filt = (recon - left) % 256
            elif filter_type == 2:  # Up
                up = flat[r - 1] if r > 0 else np.zeros_like(recon)
                filt = (recon - up) % 256
            else:
                raise NotImplementedError("encoder emits filter 0/1/2 only")
            rows.append(bytes([filter_type]) + filt.astype(np.uint8).tobytes())
        return rows

    lines = []
    if interlace == 0:
        lines = filter_rows(a)
    else:
        for x0, y0, dx, dy in _ADAM7:
            sub = a[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                lines += filter_rows(sub)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    ihdr = struct.pack(
        ">IIBBBBB", w, h, sub_bits or 8 * sample_bytes, color_type, 0, 0,
        interlace,
    )
    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"".join(lines)))
            + chunk(b"IEND", b""))


def resize_nearest(img, out_h: int, out_w: int):
    """Nearest-neighbor resize of an (h, w, c) array — pure numpy index
    arithmetic (the resize kernel of the multimodal pipeline; a deployment
    swaps in an area/bilinear kernel from an imaging lib for quality)."""
    import numpy as np

    h, w = img.shape[:2]
    ri = (np.arange(out_h) * h) // out_h
    ci = (np.arange(out_w) * w) // out_w
    return img[ri][:, ci]


def resize_bilinear(img, out_h: int, out_w: int):
    """Bilinear resize of an (h, w[, c]) uint8 array — the standard
    training-pipeline downsample kernel (half-pixel center alignment,
    edge-clamped, the OpenCV/PIL non-align-corners convention: source
    coordinate = (dst + 0.5)·scale − 0.5). Pure numpy gather + lerp in
    float64, rounded half-up back to uint8. Exactness property (pytest +
    m12 oracle): on an image whose intensity is AFFINE in (x, y), the
    interpolated values are exact — bilinear reproduces affine functions
    — so clean integer inputs round-trip with zero error."""
    import numpy as np

    h, w = img.shape[:2]
    ys = (np.arange(out_h) + 0.5) * (h / out_h) - 0.5
    xs = (np.arange(out_w) + 0.5) * (w / out_w) - 0.5
    y0 = np.clip(np.floor(ys).astype(np.int64), 0, h - 1)
    x0 = np.clip(np.floor(xs).astype(np.int64), 0, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    wy = np.clip(ys - y0, 0.0, 1.0)[:, None]
    wx = np.clip(xs - x0, 0.0, 1.0)[None, :]
    if img.ndim == 3:
        wy = wy[..., None]
        wx = wx[..., None]
    f = img.astype(np.float64)
    top = f[y0][:, x0] * (1 - wx) + f[y0][:, x1] * wx
    bot = f[y1][:, x0] * (1 - wx) + f[y1][:, x1] * wx
    out = top * (1 - wy) + bot * wy
    return np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8)


def decode_and_featurize(media: DataFrame, hist_bins: int = 8) -> DataFrame:
    """REAL image decode → per-image features via payload_rows: dimensions,
    per-channel means, and a luminance histogram. A grayscale image (with
    or without alpha) reports its gray mean as each of R, G and B, and its
    gray levels as the luminance. Undecodable payloads
    (unsupported format / corrupt bytes) yield NULL feature columns rather
    than failing the batch — at 100 TB some fraction of a crawl corpus is
    always undecodable and must not kill the job."""
    import numpy as np

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            T.StructField("channels", T.IntegerType(), True),
            T.StructField("mean_r", T.DoubleType(), True),
            T.StructField("mean_g", T.DoubleType(), True),
            T.StructField("mean_b", T.DoubleType(), True),
            T.StructField("luma_hist", T.ArrayType(T.DoubleType()), True),
            T.StructField("decode_err", T.StringType(), True),
        ]
    )

    def parse(payload):
        try:
            img = decode_image(payload)
            if img.ndim == 2:  # a grayscale TIFF decodes to (h, w)
                img = img[:, :, None]
            h, w, c = img.shape
            if c >= 3:
                rgb = img[:, :, :3].astype(np.float64)
                luma = rgb @ np.array([0.299, 0.587, 0.114])
            else:  # gray (c=1), gray+alpha (c=2): gray is R, G, B and luma
                luma = img[:, :, 0].astype(np.float64)
                rgb = luma[:, :, None].repeat(3, axis=2)
            hist = np.histogram(luma, bins=hist_bins, range=(0, 256))[0]
            tot = hist.sum() or 1
            return (
                int(w), int(h), int(c),
                *(round(float(rgb[:, :, i].mean()), 4) for i in range(3)),
                (hist / tot).round(6).tolist(), None,
            )
        except (NotImplementedError, ValueError) as exc:
            return (None,) * 7 + (type(exc).__name__,)

    return payload_rows(media.select("media_id", "payload"), parse, schema)


def extract_features(media: DataFrame, feature_dim: int = 8) -> DataFrame:
    """Per-payload feature extraction via payload_rows (Arrow batches).

    The feature kernel is a deterministic fake (byte histogram moments) so
    the full distributed path — batch iteration, binary columns through
    Arrow, schema of the result — is real and testable without media libs.
    A NULL payload gives zero features."""
    import numpy as np

    def parse(payload):
        if payload is None:
            return (0, 0.0, [0.0] * feature_dim)
        arr = np.frombuffer(payload, dtype=np.uint8)
        # deterministic fake embedding: bucketed byte histogram
        hist = np.histogram(arr, bins=feature_dim, range=(0, 256))[0]
        total = hist.sum() or 1
        return (
            int(arr.size),
            float(arr.mean()) if arr.size else 0.0,
            (hist / total).astype("float32").tolist(),
        )

    return payload_rows(media.select("media_id", "payload"), parse, FEATURE_SCHEMA)


def frame_sample(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling plumbing over METADATA only: explodes a frame
    index per payload from the declared n_frames — the zero-decode
    planning pass (which frames will we touch?). The real container-aware
    kernel is ``video_frame_features`` (RIFF/AVI walk + per-sampled-frame
    MJPEG decode)."""
    idx = F.sequence(
        F.lit(0),
        F.greatest(F.coalesce(F.col("n_frames"), F.lit(0)) - 1, F.lit(0)),
        F.lit(every_n),
    )
    return media.select(
        "media_id",
        F.explode(idx).alias("frame_idx"),
        F.col("mime"),
    )


def encode_wav_pcm(
    samples, sample_rate: int = 8000, bits: int = 8, channels: int = 1,
    fmt_tag: int = 1,
) -> bytes:
    """Minimal canonical RIFF/WAVE writer (PCM; interleaved if stereo) —
    the fixture/test encoder paired with :func:`decode_wav`. ``samples``
    is a bytes-like of unsigned 8-bit samples (bits=8), an int16 array
    (bits=16), or an int32 array holding 24-bit-range/full-range values
    (bits=24/32, little-endian on the wire like every PCM WAV).
    ``fmt_tag``: 1 PCM (default), 3 IEEE float (samples float32/float64,
    bits 32/64), 6 A-law / 7 µ-law (samples int16 linear, companded on
    write with the audioop-exact formulas)."""
    import struct

    import numpy as np

    if fmt_tag == 3:
        dt = "<f4" if bits == 32 else "<f8"
        data = np.asarray(samples, dtype=dt).tobytes()
        sample_bytes, bps = bits // 8, bits
    elif fmt_tag == 6:
        data = _linear_to_alaw(np.asarray(samples, dtype=np.int32)).tobytes()
        sample_bytes, bps = 1, 8
    elif fmt_tag == 7:
        data = _linear_to_mulaw(np.asarray(samples, dtype=np.int32)).tobytes()
        sample_bytes, bps = 1, 8
    elif fmt_tag != 1:
        raise ValueError(f"unsupported fmt_tag {fmt_tag}")
    elif bits == 8:
        data = bytes(samples)
        sample_bytes, bps = 1, 8
    elif bits == 16:
        data = np.asarray(samples, dtype="<i2").tobytes()
        sample_bytes, bps = 2, 16
    elif bits == 24:
        v = np.asarray(samples, dtype="<i4")
        b4 = v.view(np.uint8).reshape(-1, 4)
        data = np.ascontiguousarray(b4[:, :3]).tobytes()  # drop the MSB pad
        sample_bytes, bps = 3, 24
    elif bits == 32:
        data = np.asarray(samples, dtype="<i4").tobytes()
        sample_bytes, bps = 4, 32
    else:
        raise ValueError(f"bits must be 8/16/24/32, got {bits}")
    block_align = sample_bytes * channels
    fmt = struct.pack(
        "<HHIIHH", fmt_tag, channels, sample_rate,
        sample_rate * block_align, block_align, bps,
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _mulaw_to_linear(u):
    """G.711 µ-law byte → 14-bit-range linear (the standard CCITT
    expansion formula — pure arithmetic, no lookup table)."""
    import numpy as np

    u = (~np.asarray(u, dtype=np.uint8)).astype(np.int32)
    t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
    return np.where(u & 0x80, 0x84 - t, t - 0x84)


def _alaw_to_linear(a):
    """G.711 A-law byte → 13-bit-range linear (CCITT expansion)."""
    import numpy as np

    a = np.asarray(a, dtype=np.uint8).astype(np.int32) ^ 0x55
    seg = (a & 0x70) >> 4
    t = (a & 0x0F) << 4
    t = np.where(seg == 0, t + 8, np.where(seg == 1, t + 0x108,
                 (t + 0x108) << np.maximum(seg - 1, 0)))
    return np.where(a & 0x80, t, -t)


def _linear_to_mulaw(x):
    """Inverse companding for the writer: int16 linear → µ-law bytes
    (the CCITT/Sun linear2ulaw algorithm: truncate to the 14-bit
    domain, bias by 33, segment by magnitude — bit-identical to the
    classic reference implementation)."""
    import numpy as np

    x = np.asarray(x, dtype=np.int32) >> 2  # 16 → 14 bit, arithmetic
    mask = np.where(x < 0, 0x7F, 0xFF)
    mag = np.minimum(np.where(x < 0, -x, x), 8159) + 33
    seg = np.clip(np.floor(np.log2(mag)).astype(np.int32) - 5, 0, 8)
    uval = (seg << 4) | ((mag >> (seg + 1)) & 0x0F)
    return np.where(seg >= 8, 0x7F ^ mask, uval ^ mask).astype(np.uint8)


def _linear_to_alaw(x):
    """Inverse companding for the writer: int16 linear → A-law bytes
    (Sun linear2alaw: truncate to the 13-bit domain, -v-1 for
    negatives, segment search — bit-identical to the reference)."""
    import numpy as np

    x = np.asarray(x, dtype=np.int32) >> 3  # 16 → 13 bit, arithmetic
    mask = np.where(x >= 0, 0xD5, 0x55)
    v = np.where(x >= 0, x, -x - 1)
    seg = np.where(
        v <= 0x1F,
        0,
        np.floor(np.log2(np.maximum(v, 1))).astype(np.int32) - 4,
    )
    aval = (seg << 4) | np.where(
        seg < 2, (v >> 1) & 0x0F, (v >> np.maximum(seg, 1)) & 0x0F
    )
    return np.where(seg >= 8, 0x7F ^ mask, aval ^ mask).astype(np.uint8)


# IMA/DVI ADPCM tables (IMA ADPCM reference algorithm; validated
# bit-for-bit against stdlib audioop.adpcm2lin in the tests)
_IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]
_IMA_STEP = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]


def _ima_adpcm_core(nibbles, pred: int, index: int):
    """IMA ADPCM inner loop: 4-bit codes → int16 samples given the
    (predictor, step-index) state. Returns (samples list, pred, index)."""
    out = []
    for nib in nibbles:
        step = _IMA_STEP[index]
        diff = step >> 3
        if nib & 1:
            diff += step >> 2
        if nib & 2:
            diff += step >> 1
        if nib & 4:
            diff += step
        pred = pred - diff if nib & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        index = max(0, min(88, index + _IMA_INDEX[nib & 7]))
        out.append(pred)
    return out, pred, index


def decode_wav(payload: bytes):
    """REAL RIFF/WAVE parser → (sample_rate, samples float64 ndarray in
    [-1, 1], mono-mixed). Walks the chunk list properly (skips LIST/fact/
    any unknown chunk, honors word alignment), supports uncompressed PCM
    (format tag 1) at 8-bit unsigned and 16-bit signed, mono or stereo
    (stereo averaged to mono), IEEE float 32/64 (tag 3), the G.711
    companded formats (tag 6 A-law, tag 7 µ-law — expanded with the
    CCITT formulas, normalized /32768 like 16-bit linear), and IMA
    ADPCM (tag 17, block-wise nibble prediction). Perceptual codecs
    (MP3/AAC) raise NotImplementedError by documented design — no codec
    libraries in this container; the contract mirrors decode_image's
    PPM/BMP/PNG split."""
    import struct

    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, end = 12, min(len(payload), 8 + struct.unpack("<I", payload[4:8])[0])
    fmt = None
    data = None
    while pos + 8 <= end:
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAVE missing fmt or data chunk")
    tag, channels, rate, _, block_align, bps = fmt
    if tag not in (1, 3, 6, 7, 17):
        raise NotImplementedError(
            f"compressed WAVE (format tag {tag}) not supported: no codec "
            "libraries in this container; PCM (1), IEEE float (3), "
            "A-law (6), mu-law (7) and IMA ADPCM (17) are fully decoded"
        )
    if tag == 17:  # IMA ADPCM, mono block layout
        if channels != 1:
            raise NotImplementedError("stereo IMA-ADPCM WAVE")
        samples: list[int] = []
        for b0 in range(0, len(data) - 3, block_align):
            block = data[b0 : b0 + block_align]
            pred = int.from_bytes(block[0:2], "little", signed=True)
            index = min(block[2], 88)
            samples.append(pred)  # header predictor IS sample 0
            nibs = []
            for byte in block[4:]:
                nibs.append(byte & 0x0F)  # WAV order: low nibble first
                nibs.append(byte >> 4)
            dec, pred, index = _ima_adpcm_core(nibs, pred, index)
            samples.extend(dec)
        x = np.asarray(samples, dtype=np.float64) / 32768.0
        return rate, x
    if tag == 3:  # IEEE float
        if bps == 32:
            n = len(data) // 4 * 4
            x = np.frombuffer(data[:n], dtype="<f4").astype(np.float64)
        elif bps == 64:
            n = len(data) // 8 * 8
            x = np.frombuffer(data[:n], dtype="<f8").astype(np.float64)
        else:
            raise ValueError(f"IEEE-float WAVE with bps={bps}")
    elif tag == 6:  # G.711 A-law (expansion is already 16-bit range)
        x = _alaw_to_linear(
            np.frombuffer(data, dtype=np.uint8)
        ).astype(np.float64) / 32768.0
    elif tag == 7:  # G.711 mu-law (expansion is already 16-bit range)
        x = _mulaw_to_linear(
            np.frombuffer(data, dtype=np.uint8)
        ).astype(np.float64) / 32768.0
    elif bps == 8:
        x = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    elif bps == 16:
        n = len(data) // 2 * 2
        x = np.frombuffer(data[:n], dtype="<i2").astype(np.float64) / 32768.0
    elif bps == 24:
        # 3-byte little-endian signed samples: assemble in int32 and
        # sign-extend from bit 23 (no 3-byte numpy dtype exists)
        n = len(data) // 3 * 3
        b = np.frombuffer(data[:n], dtype=np.uint8).reshape(-1, 3)
        v = (
            b[:, 0].astype(np.int32)
            | (b[:, 1].astype(np.int32) << 8)
            | (b[:, 2].astype(np.int32) << 16)
        )
        v = np.where(v >= 1 << 23, v - (1 << 24), v)
        x = v.astype(np.float64) / float(1 << 23)
    elif bps == 32:
        n = len(data) // 4 * 4
        x = np.frombuffer(data[:n], dtype="<i4").astype(np.float64) / float(
            1 << 31
        )
    else:
        raise NotImplementedError(
            f"{bps}-bit PCM not supported (8/16/24/32 only)"
        )
    if channels > 1:
        n = len(x) // channels * channels
        x = x[:n].reshape(-1, channels).mean(axis=1)
    return rate, x


AUDIO_FEATURE_SCHEMA = (
    "media_id long, sample_rate int, n_samples long, duration_ms long, "
    "rms double, zcr double"
)


def audio_features(media: DataFrame) -> DataFrame:
    """Arrow-batched audio feature extraction over opaque WAV payloads:
    (sample_rate, n_samples, duration_ms, rms, zero-crossing rate) per
    item via payload_rows — one decode per row inside a columnar batch, the
    same partition-parallel shape as the image kernels. Undecodable rows
    are dropped (same skip-malformed contract as media_features)."""
    import numpy as np

    def parse(payload):
        try:
            rate, x = decode_wav(payload)
        except (ValueError, NotImplementedError):
            return []
        n = len(x)
        return (
            rate,
            n,
            # floor division: exact integer semantics both here and in
            # any SQL oracle (round() would hit half-even vs half-up)
            int(n * 1000 // rate),
            round(float(np.sqrt(np.mean(x * x))), 4) if n else 0.0,
            round(float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1]))), 4)
            if n > 1 else 0.0,
        )

    return payload_rows(
        media.select("media_id", "payload"), parse, AUDIO_FEATURE_SCHEMA
    )


# ---------------------------------------------------------------------------
# MP3: structural frame-header walk (no PCM decode — documented scope:
# full MPEG audio synthesis needs a codec library; the header walk alone
# turns a real crawl's dominant audio format from error rows into
# structural metadata rows). Public spec: ISO/IEC 11172-3 / 13818-3.
# ---------------------------------------------------------------------------

# bitrate (kbps) tables by (version-group, layer); index 1..14, 0=free,
# 15=invalid. version-group 1 = MPEG1, 2 = MPEG2 and MPEG2.5 (they share
# tables).
_MP3_BITRATES = {
    (1, 1): [0, 32, 64, 96, 128, 160, 192, 224, 256, 288,
             320, 352, 384, 416, 448],
    (1, 2): [0, 32, 48, 56, 64, 80, 96, 112, 128, 160,
             192, 224, 256, 320, 384],
    (1, 3): [0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
             160, 192, 224, 256, 320],
    (2, 1): [0, 32, 48, 56, 64, 80, 96, 112, 128, 144,
             160, 176, 192, 224, 256],
    (2, 2): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80,
             96, 112, 128, 144, 160],
}
_MP3_BITRATES[(2, 3)] = _MP3_BITRATES[(2, 2)]

# sample-rate (Hz) tables by version: 1 = MPEG1, 2 = MPEG2, 25 = MPEG2.5
_MP3_SAMPLERATES = {
    1: [44100, 48000, 32000],
    2: [22050, 24000, 16000],
    25: [11025, 12000, 8000],
}


def _mp3_frame_info(b0: int, b1: int, b2: int):
    """Validate a 4-byte header's first 3 bytes → (version, layer,
    bitrate_kbps, sample_rate, frame_bytes, samples_per_frame) or None.
    ``version`` is 1/2/25 (25 = MPEG2.5); free-format (bitrate index 0)
    returns None — frame length is not computable without scanning."""
    if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
        return None
    vbits = (b1 >> 3) & 3  # 0=2.5, 1=reserved, 2=MPEG2, 3=MPEG1
    lbits = (b1 >> 1) & 3  # 0=reserved, 1=III, 2=II, 3=I
    if vbits == 1 or lbits == 0:
        return None
    version = {0: 25, 2: 2, 3: 1}[vbits]
    layer = 4 - lbits
    bri = (b2 >> 4) & 0xF
    sri = (b2 >> 2) & 3
    if bri in (0, 15) or sri == 3:
        return None
    vgroup = 1 if version == 1 else 2
    kbps = _MP3_BITRATES[(vgroup, layer)][bri]
    sr = _MP3_SAMPLERATES[version][sri]
    pad = (b2 >> 1) & 1
    if layer == 1:
        frame_bytes = (12000 * kbps // sr + pad) * 4
        spf = 384
    else:
        # Layer II always 144; Layer III halves for MPEG2/2.5
        factor = 144 if (layer == 2 or version == 1) else 72
        frame_bytes = factor * 1000 * kbps // sr + pad
        spf = 1152 if (layer == 2 or version == 1) else 576
    return version, layer, kbps, sr, frame_bytes, spf


def mp3_frame_census(payload: bytes) -> dict:
    """Walk an MPEG audio stream's frame headers → structural metadata:
    ``{n_frames, version, layer, bitrate_kbps, sample_rate, total_bytes,
    total_samples, duration_ms, id3v2_bytes}``.  Skips a leading ID3v2
    tag (syncsafe size, footer flag honored), requires every subsequent
    frame header to agree with the first on version/layer/sample-rate
    (bitrate may vary — VBR), and stops cleanly at EOF or a trailing
    ID3v1 'TAG' block.  version/bitrate/duration reflect the FIRST
    frame; duration_ms = total_samples * 1000 // sample_rate (floor,
    SQL-replayable).  Raises ValueError when no valid frame exists —
    decode of the audio itself stays NotImplemented by documented scope
    (see decode_wav)."""
    if payload is None or len(payload) < 4:
        raise ValueError("empty or truncated MP3 payload")
    pos = 0
    id3v2 = 0
    if payload[:3] == b"ID3" and len(payload) >= 10:
        flags = payload[5]
        size = 0
        for by in payload[6:10]:
            if by & 0x80:
                raise ValueError("bad ID3v2 syncsafe size")
            size = (size << 7) | by
        id3v2 = 10 + size + (10 if flags & 0x10 else 0)
        pos = id3v2
    # scan forward to the first valid header (real streams may carry
    # junk between the tag and the first frame)
    first = None
    while pos + 4 <= len(payload):
        first = _mp3_frame_info(payload[pos], payload[pos + 1],
                                payload[pos + 2])
        if first is not None:
            break
        pos += 1
    if first is None:
        raise ValueError("no MPEG audio frame found")
    version, layer, kbps, sr, _, spf = first
    n_frames = 0
    total_samples = 0
    end = pos
    while pos + 4 <= len(payload):
        if payload[pos : pos + 3] == b"TAG":  # ID3v1 trailer
            break
        info = _mp3_frame_info(payload[pos], payload[pos + 1],
                               payload[pos + 2])
        if info is None:
            break
        v2, l2, _, sr2, frame_bytes, spf2 = info
        if (v2, l2, sr2) != (version, layer, sr):
            break  # header desync: stop, do not mix streams
        if pos + frame_bytes > len(payload):
            break  # truncated final frame: not counted
        n_frames += 1
        total_samples += spf2
        pos += frame_bytes
        end = pos
    if n_frames == 0:
        raise ValueError("no complete MPEG audio frame")
    return {
        "n_frames": n_frames,
        "version": version,
        "layer": layer,
        "bitrate_kbps": kbps,
        "sample_rate": sr,
        "total_bytes": end,
        "total_samples": total_samples,
        "duration_ms": total_samples * 1000 // sr,
        "id3v2_bytes": id3v2,
    }


def encode_mp3_stream(
    n_frames: int,
    bitrate_idx: int = 9,
    samplerate_idx: int = 0,
    version: int = 1,
    layer: int = 3,
    id3_body: int = 0,
    padding: int = 0,
) -> bytes:
    """Structurally valid MPEG audio stream writer (headers + zero-fill
    frame bodies, optional ID3v2 tag) — the fixture-synthesis
    counterpart of :func:`mp3_frame_census`, same role as
    encode_wav_pcm/encode_tiff_rgb.  Produces no decodable audio by
    design; the census only reads headers."""
    if not 1 <= bitrate_idx <= 14:
        raise ValueError("bitrate_idx must be 1..14")
    vbits = {1: 3, 2: 2, 25: 0}[version]
    lbits = 4 - layer
    b1 = 0xE0 | (vbits << 3) | (lbits << 1) | 1  # protection off
    b2 = (bitrate_idx << 4) | (samplerate_idx << 2) | (padding << 1)
    b3 = 0xC4  # mono, no emphasis
    vgroup = 1 if version == 1 else 2
    kbps = _MP3_BITRATES[(vgroup, layer)][bitrate_idx]
    sr = _MP3_SAMPLERATES[version][samplerate_idx]
    if layer == 1:
        frame_bytes = (12000 * kbps // sr + padding) * 4
    else:
        factor = 144 if (layer == 2 or version == 1) else 72
        frame_bytes = factor * 1000 * kbps // sr + padding
    out = bytearray()
    if id3_body:
        if id3_body >= 1 << 28:
            raise ValueError("ID3v2 body too large")
        size = bytes(
            (id3_body >> s) & 0x7F for s in (21, 14, 7, 0)
        )
        out += b"ID3" + bytes([4, 0, 0]) + size + bytes(id3_body)
    frame = bytes([0xFF, b1, b2, b3]) + bytes(frame_bytes - 4)
    out += frame * n_frames
    return bytes(out)


MP3_CENSUS_SCHEMA = (
    "media_id long, n_frames long, bitrate_kbps long, sample_rate long, "
    "total_bytes long, duration_ms long"
)


# ADTS sampling-frequency table (ISO/IEC 13818-7 / 14496-3), index 0..12
_ADTS_RATES = [96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
               16000, 12000, 11025, 8000, 7350]


def aac_adts_census(payload: bytes) -> dict:
    """Walk an AAC ADTS stream's 7/9-byte frame headers → structural
    metadata: ``{n_frames, profile, sample_rate, channels, total_bytes,
    total_samples, duration_ms}`` — the AAC companion of
    :func:`mp3_frame_census` (same contract: header arithmetic only,
    no spectral decode; ISO/IEC 13818-7 §6.2).  Every frame must agree
    with the first on profile/rate/channels; the 13-bit frame_length
    field advances the walk; each frame carries 1024 samples per raw
    data block.  Raises ValueError when no complete valid frame
    exists."""
    if payload is None or len(payload) < 7:
        raise ValueError("empty or truncated ADTS payload")
    pos = 0
    # tolerate leading junk: scan to the first plausible header
    first = None
    while pos + 7 <= len(payload):
        if payload[pos] == 0xFF and (payload[pos + 1] & 0xF6) == 0xF0:
            sfi = (payload[pos + 2] >> 2) & 0xF
            if sfi < len(_ADTS_RATES):
                first = pos
                break
        pos += 1
    if first is None:
        raise ValueError("no ADTS frame found")
    h = payload[pos : pos + 7]
    profile = (h[2] >> 6) & 3
    sfi = (h[2] >> 2) & 0xF
    channels = ((h[2] & 1) << 2) | (h[3] >> 6)
    sr = _ADTS_RATES[sfi]
    n_frames = 0
    total_samples = 0
    end = pos
    while pos + 7 <= len(payload):
        h = payload[pos : pos + 7]
        if not (h[0] == 0xFF and (h[1] & 0xF6) == 0xF0):
            break
        if ((h[2] >> 6) & 3, (h[2] >> 2) & 0xF,
                ((h[2] & 1) << 2) | (h[3] >> 6)) != (profile, sfi, channels):
            break
        frame_len = ((h[3] & 3) << 11) | (h[4] << 3) | (h[5] >> 5)
        hdr_len = 7 if (h[1] & 1) else 9  # protection_absent=0 adds CRC
        if frame_len < hdr_len or pos + frame_len > len(payload):
            break
        blocks = (h[6] & 3) + 1
        n_frames += 1
        total_samples += 1024 * blocks
        pos += frame_len
        end = pos
    if n_frames == 0:
        raise ValueError("no complete ADTS frame")
    return {
        "n_frames": n_frames,
        "profile": profile,
        "sample_rate": sr,
        "channels": channels,
        "total_bytes": end,
        "total_samples": total_samples,
        "duration_ms": total_samples * 1000 // sr,
    }


def encode_adts_stream(
    n_frames: int,
    profile: int = 1,
    samplerate_idx: int = 4,
    channels: int = 2,
    body_bytes: int = 64,
) -> bytes:
    """Structurally valid ADTS writer (headers + zero-fill raw data) —
    fixture synthesis for :func:`aac_adts_census`; no decodable audio
    by design, same role as encode_mp3_stream."""
    if not 0 <= samplerate_idx < len(_ADTS_RATES):
        raise ValueError("bad sampling frequency index")
    if not 1 <= channels <= 7:
        raise ValueError("channels must be 1..7")
    frame_len = 7 + body_bytes
    h = bytes([
        0xFF,
        0xF1,  # MPEG-4, layer 00, protection absent
        ((profile & 3) << 6) | (samplerate_idx << 2) | ((channels >> 2) & 1),
        ((channels & 3) << 6) | ((frame_len >> 11) & 3),
        (frame_len >> 3) & 0xFF,
        ((frame_len & 7) << 5) | 0x1F,  # buffer fullness high bits (VBR)
        0xFC,  # fullness low + 1 raw data block (field 00 = one block)
    ])
    return (h + bytes(body_bytes)) * n_frames


AAC_CENSUS_SCHEMA = (
    "media_id long, n_frames long, profile long, sample_rate long, "
    "channels long, total_bytes long, duration_ms long"
)


def _id3_deunsync(data: bytes) -> bytes:
    """Reverse ID3v2 unsynchronisation: drop the 0x00 inserted after
    every 0xFF (id3.org §5 — the non-overlapping scan removes exactly
    one inserted NUL per FF, so FF 00 00 correctly yields FF 00)."""
    return data.replace(b"\xff\x00", b"\xff")


def id3v2_text_frames(payload: bytes) -> list:
    """Extract the TEXT frames of a leading ID3v2.2/2.3/2.4 tag →
    ``[(frame_id, text), ...]`` in frame order (id3.org spec): 10-byte
    tag header with syncsafe size; v2.2 frames carry 6-byte headers
    (3-char IDs, 3-byte plain sizes), v2.3/2.4 10-byte headers (v4
    syncsafe / v3 plain frame sizes); 'T...' text frames decoded per
    their encoding byte (0 latin-1, 1 utf-16 with BOM, 2 utf-16-be,
    3 utf-8 — v2.2 allows only 0/1) with the trailing NUL terminator
    stripped.  Tag-level unsynchronisation (flag 0x80) is reversed
    before the walk for v2.2/2.3 (applied tag-wide there); for v2.4 it
    is reversed per-frame (the flag means every frame is unsynced, and
    frame sizes count the on-disk, still-synced bytes), as is a
    frame-level unsync format flag (0x02).  Non-text frames are
    skipped structurally; returns [] when no ID3v2 tag leads the
    payload or a v2.2 tag sets the compression bit (the spec's
    "ignore the tag" escape); raises ValueError on an unsupported
    version or a corrupt tag (bad syncsafe byte, frame overruns the
    tag)."""
    if payload is None or len(payload) < 10 or payload[:3] != b"ID3":
        return []
    ver = payload[3]
    if ver not in (2, 3, 4):
        raise ValueError(f"unsupported ID3v2.{ver} tag")
    flags = payload[5]
    if ver == 2 and flags & 0x40:
        # v2.2 bit 6 is "compression" with no defined scheme; the spec
        # directs readers to ignore the whole tag
        return []
    size = 0
    for by in payload[6:10]:
        if by & 0x80:
            raise ValueError("bad ID3v2 syncsafe size")
        size = (size << 7) | by
    if 10 + size > len(payload):
        raise ValueError("ID3v2 tag overruns payload")
    buf = payload[10 : 10 + size]
    if flags & 0x80 and ver in (2, 3):
        buf = _id3_deunsync(buf)  # v2.2/2.3: unsync spans the whole tag
    end = len(buf)
    pos = 0
    if ver >= 3 and flags & 0x40:  # extended header: skip by its size field
        ext = int.from_bytes(buf[0:4], "big")
        if ver == 4:  # syncsafe in v4, size includes itself
            ext = ((ext & 0x7F000000) >> 3 | (ext & 0x7F0000) >> 2
                   | (ext & 0x7F00) >> 1 | (ext & 0x7F))
            pos += ext
        else:  # v3: size excludes the 4 size bytes
            pos += 4 + ext
    hlen = 6 if ver == 2 else 10
    idlen = 3 if ver == 2 else 4
    out = []
    while pos + hlen <= end:
        fid = buf[pos : pos + idlen]
        if fid[0] == 0:  # padding reached
            break
        raw = int.from_bytes(buf[pos + idlen : pos + idlen * 2], "big")
        if ver == 4:
            if raw & 0x80808080:
                raise ValueError("bad ID3v2.4 syncsafe frame size")
            fsize = ((raw & 0x7F000000) >> 3 | (raw & 0x7F0000) >> 2
                     | (raw & 0x7F00) >> 1 | (raw & 0x7F))
        else:
            fsize = raw
        body = pos + hlen
        if body + fsize > end:
            raise ValueError("ID3v2 frame overruns tag")
        frame = buf[body : body + fsize]
        if ver == 4 and fsize:
            fmt_flags = buf[pos + 9]
            if fmt_flags & 0x0C:  # compressed (0x08) / encrypted (0x04):
                pos = body + fsize  # opaque payload — skip structurally
                continue
            if flags & 0x80 or fmt_flags & 0x02:
                frame = _id3_deunsync(frame)
            if fmt_flags & 0x01 and len(frame) >= 4:
                # data-length indicator: a 4-byte syncsafe original-size
                # word precedes the frame content, not part of the text
                frame = frame[4:]
        elif ver == 3 and fsize:
            fmt_flags = buf[pos + 9]
            if fmt_flags & 0xC0:  # v2.3 compression (0x80) / encryption (0x40)
                pos = body + fsize
                continue
        if fid[0:1] == b"T" and len(frame) >= 1:
            enc = frame[0]
            data = frame[1:]
            try:
                if enc == 0:
                    text = data.decode("latin-1")
                elif enc == 1:
                    text = data.decode("utf-16")
                elif enc == 2 and ver >= 3:
                    text = data.decode("utf-16-be")
                elif enc == 3 and ver >= 3:
                    text = data.decode("utf-8")
                else:
                    raise ValueError(
                        f"bad ID3v2.{ver} text encoding {enc}")
            except UnicodeDecodeError as exc:
                raise ValueError(f"undecodable ID3v2 text frame: {exc}")
            out.append((fid.decode("latin-1"), text.rstrip("\x00")))
        pos = body + fsize
    return out


def encode_id3v2(
    frames, version: int = 4, padding: int = 0, unsync: bool = False
) -> bytes:
    """ID3v2.2/2.3/2.4 tag writer for ``[(frame_id, text, encoding),
    ...]`` — fixture synthesis for :func:`id3v2_text_frames`; prepend
    the result to an MP3 stream (mp3_frame_census skips it by the same
    syncsafe arithmetic).  version=2 emits 6-byte frame headers
    (3-char IDs, 3-byte sizes, encodings 0/1 only); unsync=True
    (v2.2/2.3 only — v2.4 unsyncs per-frame, which this fixture writer
    does not emit) applies tag-wide unsynchronisation (a 0x00 after
    every 0xFF) and sets header flag 0x80, with the header size field
    counting the on-disk, post-unsync bytes per the spec."""
    if version not in (2, 3, 4):
        raise ValueError(f"bad ID3v2 version {version}")
    if unsync and version == 4:
        raise ValueError("unsync fixture writer supports v2.2/2.3 only")
    idlen = 3 if version == 2 else 4
    body = bytearray()
    for fid, text, enc in frames:
        if len(fid) != idlen:
            raise ValueError(
                f"ID3v2.{version} frame id must be {idlen} chars: {fid!r}")
        if enc == 0:
            data = text.encode("latin-1")
        elif enc == 1:
            data = text.encode("utf-16")  # emits the BOM
        elif enc == 2 and version >= 3:
            data = text.encode("utf-16-be")
        elif enc == 3 and version >= 3:
            data = text.encode("utf-8")
        else:
            raise ValueError(f"bad ID3v2.{version} encoding {enc}")
        payload = bytes([enc]) + data
        n = len(payload)
        if version == 4:
            sz = bytes(((n >> s) & 0x7F) for s in (21, 14, 7, 0))
        elif version == 3:
            sz = n.to_bytes(4, "big")
        else:
            sz = n.to_bytes(3, "big")
        hdr_flags = b"" if version == 2 else b"\x00\x00"
        body += fid.encode("latin-1") + sz + hdr_flags + payload
    body += bytes(padding)
    flags = 0
    if unsync:
        body = bytearray(body.replace(b"\xff", b"\xff\x00"))
        flags |= 0x80
    total = len(body)
    if total >= 1 << 28:
        raise ValueError("tag too large")
    size = bytes(((total >> s) & 0x7F) for s in (21, 14, 7, 0))
    return b"ID3" + bytes([version, 0, flags]) + size + bytes(body)


ID3_TAGS_SCHEMA = "media_id long, frame_id string, value string"


def encode_id3_mp3(title: str, artist: str, album: str, encoding: int,
                   version: int, unsync: bool) -> bytes:
    """One MP3 frame behind an ID3v2 tag of title/artist/album text
    frames: the per-row fixture for :func:`id3v2_text_frames`.
    version=2 writes the three-char v2.2 IDs and clamps ``encoding`` to
    the 0/1 that spec allows; ``unsync`` applies to v2.2/2.3 only, since
    :func:`encode_id3v2` writes no per-frame v2.4 unsynchronisation."""
    if version == 2:
        ids = ("TT2", "TP1", "TAL")
        encoding %= 2
    else:
        ids = ("TIT2", "TPE1", "TALB")
    frames = [(fid, text, encoding)
              for fid, text in zip(ids, (title, artist, album))]
    tag = encode_id3v2(frames, version=version,
                       unsync=unsync and version < 4)
    return tag + encode_mp3_stream(1, 9, 0, 1, 3, 0)


# ---------------------------------------------------------------------------
# MP4 / ISO-BMFF: structural box walk (ISO/IEC 14496-12). Same on-ramp
# contract as the MP3/ADTS/VP8 censuses: the container structure —
# movie timescale/duration, per-track dimensions and handler types —
# parses without any codec; sample decode stays out of scope.
# ---------------------------------------------------------------------------


def mp4_box_census(payload: bytes) -> dict:
    """Walk an ISO-BMFF (MP4/MOV) box tree → structural metadata:
    ``{major_brand, timescale, duration, duration_ms, n_tracks,
    n_video, n_audio, width, height, total_bytes}`` (width/height from
    the FIRST video track's tkhd 16.16 fixed-point fields; box sizes
    honor the 64-bit largesize form and size==0 extends-to-EOF).
    Raises ValueError when the payload is not BMFF (no ftyp/moov) or a
    box overruns the payload."""
    if payload is None or len(payload) < 16:
        raise ValueError("empty or truncated MP4 payload")

    def boxes(buf, start, end):
        pos = start
        while pos + 8 <= end:
            size = int.from_bytes(buf[pos : pos + 4], "big")
            btype = buf[pos + 4 : pos + 8]
            body = pos + 8
            if size == 1:
                if pos + 16 > end:
                    raise ValueError("truncated largesize box header")
                size = int.from_bytes(buf[pos + 8 : pos + 16], "big")
                body = pos + 16
            elif size == 0:  # extends to end of enclosing scope
                size = end - pos
            if size < body - pos or pos + size > end:
                raise ValueError("MP4 box overruns payload")
            yield btype, body, pos + size
            pos += size

    major = None
    timescale = None
    duration = None
    n_tracks = n_video = n_audio = 0
    width = height = None
    for btype, body, bend in boxes(payload, 0, len(payload)):
        if btype == b"ftyp":
            major = payload[body : body + 4].decode("latin-1")
        elif btype == b"moov":
            for t2, b2, e2 in boxes(payload, body, bend):
                if t2 == b"mvhd":
                    if b2 + 1 > e2:
                        raise ValueError("short mvhd box")
                    ver = payload[b2]
                    # fields read end at duration: 32 bytes into a v1
                    # body, 20 into a v0 body — a shorter box would
                    # read the next sibling's bytes as timescale
                    if b2 + (32 if ver == 1 else 20) > e2:
                        raise ValueError("short mvhd box")
                    if ver == 1:
                        timescale = int.from_bytes(
                            payload[b2 + 20 : b2 + 24], "big")
                        duration = int.from_bytes(
                            payload[b2 + 24 : b2 + 32], "big")
                    else:
                        timescale = int.from_bytes(
                            payload[b2 + 12 : b2 + 16], "big")
                        duration = int.from_bytes(
                            payload[b2 + 16 : b2 + 20], "big")
                elif t2 == b"trak":
                    n_tracks += 1
                    tw = th = None
                    handler = None
                    for t3, b3, e3 in boxes(payload, b2, e2):
                        if t3 == b"tkhd":
                            if b3 + 1 > e3:
                                raise ValueError("short tkhd box")
                            ver = payload[b3]
                            # spec body spans: 84 bytes v0 / 96 v1
                            if b3 + (96 if ver == 1 else 84) > e3:
                                raise ValueError("short tkhd box")
                            off = b3 + (32 if ver == 0 else 44)
                            # 8 reserved/layer/group/volume bytes + 36
                            # matrix bytes precede width/height
                            wh = off + 8 + 36 + 4
                            tw = int.from_bytes(
                                payload[wh - 4 : wh - 2], "big")
                            th = int.from_bytes(
                                payload[wh : wh + 2], "big")
                        elif t3 == b"mdia":
                            for t4, b4, _e4 in boxes(payload, b3, e3):
                                if t4 == b"hdlr":
                                    if b4 + 12 > _e4:
                                        raise ValueError("short hdlr box")
                                    handler = payload[b4 + 8 : b4 + 12]
                    if handler == b"vide":
                        n_video += 1
                        if width is None:
                            width, height = tw, th
                    elif handler == b"soun":
                        n_audio += 1
    if major is None or timescale is None:
        raise ValueError("not an ISO-BMFF payload (ftyp/moov missing)")
    return {
        "major_brand": major,
        "timescale": timescale,
        "duration": duration,
        "duration_ms": (duration or 0) * 1000 // timescale
        if timescale else 0,
        "n_tracks": n_tracks,
        "n_video": n_video,
        "n_audio": n_audio,
        "width": width,
        "height": height,
        "total_bytes": len(payload),
    }


def encode_mp4_stub(
    timescale: int = 1000,
    duration: int = 5000,
    n_video: int = 1,
    n_audio: int = 1,
    width: int = 640,
    height: int = 360,
    mdat_bytes: int = 32,
) -> bytes:
    """Structurally valid ISO-BMFF writer (ftyp + moov(mvhd + trak
    (tkhd + mdia(mdhd + hdlr))) + mdat, zero-filled samples) — fixture
    synthesis for :func:`mp4_box_census`; no decodable media by
    design."""

    def box(btype: bytes, body: bytes) -> bytes:
        return (8 + len(body)).to_bytes(4, "big") + btype + body

    ftyp = box(b"ftyp", b"isom" + (512).to_bytes(4, "big") + b"isomiso2")
    mvhd = box(
        b"mvhd",
        bytes(4)  # version 0 + flags
        + bytes(8)  # creation/modification
        + timescale.to_bytes(4, "big")
        + duration.to_bytes(4, "big")
        + (0x00010000).to_bytes(4, "big")  # rate 1.0
        + (0x0100).to_bytes(2, "big")  # volume 1.0
        + bytes(10)  # reserved
        + b"".join(
            v.to_bytes(4, "big")
            for v in (0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        )
        + bytes(24)  # predefined
        + (n_video + n_audio + 1).to_bytes(4, "big"),  # next track id
    )
    traks = []
    for i in range(n_video + n_audio):
        vid = i < n_video
        tkhd = box(
            b"tkhd",
            bytes([0, 0, 0, 7])  # version 0, enabled|in_movie|in_preview
            + bytes(8)
            + (i + 1).to_bytes(4, "big")  # track id
            + bytes(4)
            + duration.to_bytes(4, "big")
            + bytes(8)  # reserved
            + bytes(8)  # layer/group/volume/reserved
            + b"".join(
                v.to_bytes(4, "big")
                for v in (0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
            )
            + ((width if vid else 0) << 16).to_bytes(4, "big")
            + ((height if vid else 0) << 16).to_bytes(4, "big"),
        )
        mdhd = box(
            b"mdhd",
            bytes(4) + bytes(8) + timescale.to_bytes(4, "big")
            + duration.to_bytes(4, "big")
            + (0x55C4).to_bytes(2, "big")  # language 'und'
            + bytes(2),
        )
        hdlr = box(
            b"hdlr",
            bytes(4) + bytes(4)
            + (b"vide" if vid else b"soun")
            + bytes(12) + b"\x00",
        )
        traks.append(box(b"trak", tkhd + box(b"mdia", mdhd + hdlr)))
    moov = box(b"moov", mvhd + b"".join(traks))
    mdat = box(b"mdat", bytes(mdat_bytes))
    return ftyp + moov + mdat


MP4_CENSUS_SCHEMA = (
    "media_id long, n_tracks long, n_video long, n_audio long, "
    "width long, height long, duration_ms long, total_bytes long"
)


def flac_streaminfo_census(payload: bytes) -> dict:
    """Parse a FLAC container's metadata-block chain and its mandatory
    STREAMINFO block (the format's public spec / RFC 9639): →
    ``{sample_rate, channels, bits_per_sample, total_samples,
    duration_ms, n_metadata_blocks, total_bytes}``.  Speech corpora
    (LibriSpeech-style) ship FLAC; the header census gives the
    pipeline duration/channel metadata without a codec — frame decode
    stays out of scope like the other lossy/lossless-compressed
    censuses.  Raises ValueError on non-FLAC payloads, a missing or
    short STREAMINFO, or a block overrunning the payload."""
    if payload is None or len(payload) < 42 or payload[:4] != b"fLaC":
        raise ValueError("not a FLAC payload")
    pos = 4
    n_blocks = 0
    info = None
    while pos + 4 <= len(payload):
        hdr = payload[pos]
        btype = hdr & 0x7F
        size = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = pos + 4
        if body + size > len(payload):
            raise ValueError("FLAC metadata block overruns payload")
        n_blocks += 1
        if btype == 0:  # STREAMINFO
            if size < 34:
                raise ValueError("short STREAMINFO block")
            b = payload[body : body + 34]
            packed = int.from_bytes(b[10:18], "big")
            info = {
                "sample_rate": packed >> 44,
                "channels": ((packed >> 41) & 0x7) + 1,
                "bits_per_sample": ((packed >> 36) & 0x1F) + 1,
                "total_samples": packed & ((1 << 36) - 1),
            }
        pos = body + size
        if hdr & 0x80:  # last-metadata-block flag
            break
    if info is None:
        raise ValueError("FLAC stream has no STREAMINFO block")
    if not info["sample_rate"]:
        raise ValueError("STREAMINFO sample rate is zero")
    info["duration_ms"] = (
        info["total_samples"] * 1000 // info["sample_rate"]
    )
    info["n_metadata_blocks"] = n_blocks
    info["total_bytes"] = len(payload)
    return info


def encode_flac_stub(
    sample_rate: int = 16000,
    channels: int = 1,
    bits: int = 16,
    total_samples: int = 16000,
    padding: int = 0,
    frame_bytes: int = 64,
) -> bytes:
    """Structurally valid FLAC writer (fLaC magic + STREAMINFO +
    optional PADDING block + zero-fill frame section) — fixture
    synthesis for :func:`flac_streaminfo_census`; no decodable audio
    by design."""
    if not 1 <= channels <= 8 or not 4 <= bits <= 32:
        raise ValueError("bad channels/bits")
    if total_samples >= 1 << 36 or sample_rate >= 1 << 20:
        raise ValueError("field overflow")
    packed = (
        (sample_rate << 44)
        | ((channels - 1) << 41)
        | ((bits - 1) << 36)
        | total_samples
    )
    streaminfo = (
        (4096).to_bytes(2, "big") * 2  # min/max blocksize
        + bytes(6)  # min/max framesize unknown
        + packed.to_bytes(8, "big")
        + bytes(16)  # md5 unset
    )
    last = 0x80 if padding == 0 else 0
    out = b"fLaC" + bytes([last]) + len(streaminfo).to_bytes(3, "big")
    out += streaminfo
    if padding:
        out += bytes([0x81]) + padding.to_bytes(3, "big") + bytes(padding)
    return out + bytes(frame_bytes)


FLAC_CENSUS_SCHEMA = (
    "media_id long, sample_rate long, channels long, "
    "bits_per_sample long, total_samples long, duration_ms long, "
    "n_metadata_blocks long, total_bytes long"
)


# ---------------------------------------------------------------------------
# Ogg (RFC 3533) page walk + Opus (RFC 7845) / Vorbis (Xiph spec §4.2)
# identification headers.  Same on-ramp contract as the MP3/ADTS/MP4/
# FLAC censuses: a crawl's dominant open-audio container yields
# structural metadata rows (codec, channels, pre-skip, granule-derived
# duration, packet counts) without any codec library; PCM decode stays
# the documented out-of-scope step.
# ---------------------------------------------------------------------------

_OGG_CRC_TABLE: list | None = None


def _ogg_crc(data: bytes) -> int:
    """Ogg page CRC-32 (RFC 3533 §6): polynomial 0x04C11DB7, no bit
    reflection, zero init and zero final XOR — NOT the zlib CRC."""
    global _OGG_CRC_TABLE
    if _OGG_CRC_TABLE is None:
        table = []
        for i in range(256):
            r = i << 24
            for _ in range(8):
                r = ((r << 1) ^ 0x04C11DB7 if r & 0x80000000
                     else r << 1) & 0xFFFFFFFF
            table.append(r)
        _OGG_CRC_TABLE = table
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _OGG_CRC_TABLE[(crc >> 24) ^ b]
    return crc


def ogg_page_census(payload: bytes) -> dict:
    """Walk an Ogg container's page chain (RFC 3533: 'OggS' capture
    pattern, version-0 header, 64-bit granule position, segment-table
    lacing) and the first page's codec identification header → ``{codec,
    n_pages, n_packets, channels, pre_skip, sample_rate, last_granule,
    duration_ms, total_bytes}``.  A lacing value < 255 terminates a
    packet, so the per-page packet count is the number of sub-255
    entries; granule -1 pages (no packet ends) don't advance
    last_granule.  Opus (RFC 7845 'OpusHead': channel count, 48
    kHz-clock pre-skip, input sample rate) and Vorbis (0x01'vorbis':
    channels, sample rate) ID headers are recognized; duration_ms uses
    the Opus 48 kHz granule clock minus pre-skip, or the Vorbis granule
    over its own sample rate.  Page CRCs are carried, not verified
    (same cheap-walk contract as the MP4 box census).  Raises
    ValueError on a non-Ogg payload, a non-zero structure version, a
    missing BOS flag, a truncated page, or an unrecognized ID
    header."""
    if payload is None or len(payload) < 28 or payload[:4] != b"OggS":
        raise ValueError("not an Ogg payload")
    pos = 0
    n_pages = 0
    n_packets = 0
    last_granule = 0
    first_payload = None
    while pos < len(payload):
        if payload[pos : pos + 4] != b"OggS":
            raise ValueError("bad Ogg capture pattern")
        if pos + 27 > len(payload):
            raise ValueError("truncated Ogg page header")
        if payload[pos + 4] != 0:
            raise ValueError("unsupported Ogg structure version")
        htype = payload[pos + 5]
        if n_pages == 0 and not htype & 0x02:
            raise ValueError("first Ogg page lacks BOS flag")
        granule = int.from_bytes(
            payload[pos + 6 : pos + 14], "little", signed=True)
        nseg = payload[pos + 26]
        seg = payload[pos + 27 : pos + 27 + nseg]
        if len(seg) < nseg:
            raise ValueError("truncated Ogg segment table")
        body_start = pos + 27 + nseg
        body_len = sum(seg)
        if body_start + body_len > len(payload):
            raise ValueError("Ogg page body overruns payload")
        n_packets += sum(1 for v in seg if v < 255)
        if n_pages == 0:
            first_payload = payload[body_start : body_start + body_len]
        if granule != -1:
            last_granule = granule
        n_pages += 1
        pos = body_start + body_len
    if first_payload is None:
        raise ValueError("empty Ogg container")
    if first_payload[:8] == b"OpusHead":
        if len(first_payload) < 19:
            raise ValueError("short OpusHead identification header")
        codec = "opus"
        channels = first_payload[9]
        pre_skip = int.from_bytes(first_payload[10:12], "little")
        sample_rate = int.from_bytes(first_payload[12:16], "little")
        # Opus granules tick at 48 kHz regardless of input rate
        duration_ms = max(last_granule - pre_skip, 0) * 1000 // 48000
    elif first_payload[:7] == b"\x01vorbis":
        if len(first_payload) < 30:
            raise ValueError("short Vorbis identification header")
        codec = "vorbis"
        channels = first_payload[11]
        sample_rate = int.from_bytes(first_payload[12:16], "little")
        pre_skip = 0
        duration_ms = (last_granule * 1000 // sample_rate
                       if sample_rate else 0)
    else:
        raise ValueError("unrecognized Ogg codec identification header")
    return {
        "codec": codec,
        "n_pages": n_pages,
        "n_packets": n_packets,
        "channels": channels,
        "pre_skip": pre_skip,
        "sample_rate": sample_rate,
        "last_granule": last_granule,
        "duration_ms": duration_ms,
        "total_bytes": len(payload),
    }


def _ogg_page(htype: int, granule: int, serial: int, seq: int,
              segments: list) -> bytes:
    """One spec-valid Ogg page (real RFC 3533 CRC) from a list of
    segment payloads, each < 255 bytes (one lacing value per packet)."""
    lacing = bytes(len(s) for s in segments)
    body = b"".join(segments)
    page = bytearray(
        b"OggS" + bytes([0, htype])
        + granule.to_bytes(8, "little", signed=True)
        + serial.to_bytes(4, "little") + seq.to_bytes(4, "little")
        + bytes(4) + bytes([len(lacing)]) + lacing + body
    )
    page[22:26] = _ogg_crc(bytes(page)).to_bytes(4, "little")
    return bytes(page)


def encode_ogg_stub(
    codec: str = "opus",
    channels: int = 2,
    sample_rate: int = 48000,
    pre_skip: int = 312,
    n_audio_pages: int = 3,
    packets_per_page: int = 2,
    packet_size: int = 40,
    comments: list | None = None,
    vendor: str = "torcdb",
) -> bytes:
    """Structurally valid Ogg writer (BOS identification-header page +
    optional comment-header page + zero-filled audio pages with correct
    granule progression and real page CRCs; 960-sample Opus /
    1024-sample Vorbis packets) — fixture synthesis for
    :func:`ogg_page_census` / :func:`ogg_comment_tags`; no decodable
    audio by design.  ``comments`` is ``[(key, value), ...]`` emitted
    as an OpusTags / 0x03'vorbis' header on its own page (granule 0, no
    packet ends in audio terms), the layout real encoders write."""
    if not 1 <= packet_size < 255:
        raise ValueError("packet_size must fit one lacing value")
    if codec == "opus":
        ident = (b"OpusHead" + bytes([1, channels])
                 + pre_skip.to_bytes(2, "little")
                 + sample_rate.to_bytes(4, "little")
                 + bytes(2) + bytes([0]))
        tags_magic = b"OpusTags"
        spp, base = 960, pre_skip
    elif codec == "vorbis":
        ident = (b"\x01vorbis" + bytes(4) + bytes([channels])
                 + sample_rate.to_bytes(4, "little")
                 + bytes(12) + bytes([0xB8, 0x01]))
        tags_magic = b"\x03vorbis"
        spp, base = 1024, 0
    else:
        raise ValueError(f"unsupported codec {codec!r}")
    serial = 0x5049_4B45
    out = [_ogg_page(0x02, 0, serial, 0, [ident])]
    seq = 1
    if comments is not None:
        vb = vendor.encode("utf-8")
        body = tags_magic + len(vb).to_bytes(4, "little") + vb
        body += len(comments).to_bytes(4, "little")
        for k, v in comments:
            entry = f"{k}={v}".encode("utf-8")
            body += len(entry).to_bytes(4, "little") + entry
        # comment packets routinely exceed 255 bytes: real lacing —
        # floor(n/255) 255-values then the sub-255 terminator
        segs = [body[i : i + 255] for i in range(0, len(body), 255)]
        if len(body) % 255 == 0:
            segs.append(b"")
        out.append(_ogg_page(0x00, 0, serial, seq, segs))
        seq += 1
    for i in range(1, n_audio_pages + 1):
        htype = 0x04 if i == n_audio_pages else 0x00
        granule = base + i * packets_per_page * spp
        out.append(_ogg_page(
            htype, granule, serial, seq,
            [bytes(packet_size)] * packets_per_page,
        ))
        seq += 1
    return b"".join(out)


def _ogg_packets(payload: bytes):
    """Yield logical packets from an Ogg page chain by segment-table
    lacing (RFC 3533 §5: a 255 value continues the packet — possibly
    across pages via the continuation flag — a sub-255 value ends it).
    Shares the page-walk validation contracts of
    :func:`ogg_page_census`."""
    if payload is None or len(payload) < 28 or payload[:4] != b"OggS":
        raise ValueError("not an Ogg payload")
    pos = 0
    buf = bytearray()
    while pos < len(payload):
        if payload[pos : pos + 4] != b"OggS":
            raise ValueError("bad Ogg capture pattern")
        if pos + 27 > len(payload):
            raise ValueError("truncated Ogg page header")
        nseg = payload[pos + 26]
        seg = payload[pos + 27 : pos + 27 + nseg]
        if len(seg) < nseg:
            raise ValueError("truncated Ogg segment table")
        body = pos + 27 + nseg
        if body + sum(seg) > len(payload):
            raise ValueError("Ogg page body overruns payload")
        for v in seg:
            buf += payload[body : body + v]
            body += v
            if v < 255:
                yield bytes(buf)
                buf.clear()
        pos = body


def ogg_comment_tags(payload: bytes) -> list:
    """Extract the user-comment list of an Ogg Opus/Vorbis stream's
    comment header (packet #2: 'OpusTags' per RFC 7845 §5.2 /
    0x03'vorbis' per the Xiph Vorbis-comment spec) →
    ``[(key, value), ...]`` in list order — the audio analogue of the
    ID3v2 text-frame walk, with packets reassembled across lacing
    boundaries (comment packets routinely span multiple 255-byte
    segments).  Keys are reported as written (the spec says
    case-insensitive ASCII 0x20-0x7D minus '='); values are UTF-8.
    Raises ValueError on a missing/foreign second packet, a truncated
    length field, an entry with no '=' separator, or undecodable
    UTF-8."""
    packets = _ogg_packets(payload)
    try:
        next(packets)  # identification header (validated by the census)
        comment = next(packets)
    except StopIteration:
        raise ValueError("Ogg stream has no comment packet")
    if comment[:8] == b"OpusTags":
        pos = 8
    elif comment[:7] == b"\x03vorbis":
        pos = 7
    else:
        raise ValueError("second Ogg packet is not a comment header")

    def u32(at: int) -> int:
        if at + 4 > len(comment):
            raise ValueError("truncated comment header")
        return int.from_bytes(comment[at : at + 4], "little")

    vlen = u32(pos)
    pos += 4 + vlen  # vendor string skipped (not user metadata)
    n = u32(pos)
    pos += 4
    out = []
    for _ in range(n):
        ln = u32(pos)
        pos += 4
        if pos + ln > len(comment):
            raise ValueError("comment entry overruns packet")
        try:
            entry = comment[pos : pos + ln].decode("utf-8")
        except UnicodeDecodeError as exc:
            raise ValueError(f"undecodable comment entry: {exc}")
        pos += ln
        k, sep, v = entry.partition("=")
        if not sep:
            raise ValueError("comment entry has no '=' separator")
        out.append((k, v))
    return out


OGG_TAGS_SCHEMA = "media_id long, tag string, value string"


OGG_CENSUS_SCHEMA = (
    "media_id long, codec string, n_pages long, n_packets long, "
    "channels long, pre_skip long, sample_rate long, "
    "last_granule long, duration_ms long, total_bytes long"
)


# RFC 6716 §3.1 Table 2: TOC config number → (mode, bandwidth,
# frame duration in 48 kHz samples).  SILK-only 0-11 (10/20/40/60 ms),
# Hybrid 12-15 (10/20 ms), CELT-only 16-31 (2.5/5/10/20 ms).
_OPUS_CONFIGS = (
    [("silk", bw, n) for bw in ("nb", "mb", "wb")
     for n in (480, 960, 1920, 2880)]
    + [("hybrid", bw, n) for bw in ("swb", "fb") for n in (480, 960)]
    + [("celt", bw, n) for bw in ("nb", "wb", "swb", "fb")
       for n in (120, 240, 480, 960)]
)


def opus_packet_census(payload: bytes) -> list:
    """Per-packet Opus TOC walk (VERDICT r12 stretch #8) one level
    below :func:`ogg_page_census`'s page/granule arithmetic: each
    audio packet's TOC byte (RFC 6716 §3.1) decodes to config number
    (bits 3-7 → mode / bandwidth / frame duration per Table 2), the
    stereo flag (bit 2), and the frame-count code (bits 0-1: 0 = one
    frame, 1 = two CBR frames, 2 = two VBR frames, 3 = arbitrary —
    the NEXT byte carries VBR flag (bit 7), padding flag (bit 6) and
    frame count M in bits 0-5, with M >= 1 and M x duration <= 120 ms
    enforced per §3.2.5).  Returns one dict per audio packet
    (``pkt_idx, config, stereo, fcode, n_frames, frame_samples,
    pkt_samples, mode, bandwidth, granule_match``) where
    ``granule_match`` cross-checks the summed TOC durations against
    the container's granule arithmetic (last granule − pre-skip on
    the 48 kHz Opus clock) — the two independent duration sources a
    broken TOC parse would disagree on.  Internal frame-length
    indicators (code 2/3 VBR) are not parsed — census scope is the
    TOC layer, as the page census's scope is the lacing layer.
    Raises ValueError on a non-Opus stream, an empty packet, a
    truncated code-3 header, or an M that violates §3.2.5."""
    info = ogg_page_census(payload)
    if info["codec"] != "opus":
        raise ValueError("opus packet census over a non-Opus stream")
    packets = list(_ogg_packets(payload))
    audio = packets[1:]
    if audio and audio[0][:8] == b"OpusTags":
        audio = audio[1:]
    out = []
    total = 0
    for idx, pkt in enumerate(audio):
        if not pkt:
            raise ValueError("empty Opus packet")
        toc = pkt[0]
        config = toc >> 3
        stereo = bool(toc & 0x04)
        fcode = toc & 0x03
        mode, bandwidth, spf = _OPUS_CONFIGS[config]
        if fcode == 0:
            n_frames = 1
        elif fcode in (1, 2):
            n_frames = 2
        else:
            if len(pkt) < 2:
                raise ValueError("code-3 Opus packet without count byte")
            n_frames = pkt[1] & 0x3F
            if n_frames < 1 or n_frames * spf > 5760:  # 120 ms at 48 kHz
                raise ValueError("code-3 frame count violates RFC 6716 "
                                 "section 3.2.5")
        total += n_frames * spf
        out.append({
            "pkt_idx": idx,
            "config": config,
            "stereo": stereo,
            "fcode": fcode,
            "n_frames": n_frames,
            "frame_samples": spf,
            "pkt_samples": n_frames * spf,
            "mode": mode,
            "bandwidth": bandwidth,
        })
    match = (info["last_granule"] - info["pre_skip"]) == total
    for row in out:
        row["granule_match"] = match
    return out


def encode_opus_packets(
    packet_tocs: list,
    pre_skip: int = 312,
    channels: int = 2,
    sample_rate: int = 48000,
) -> bytes:
    """Structurally valid Ogg Opus stream whose audio packets carry
    REAL TOC bytes: ``packet_tocs`` is ``[(config, stereo, fcode,
    n_frames), ...]`` — one audio packet per entry, all on one audio
    page, with the final granule set to pre-skip + the Table-2 sum so
    the census's granule cross-check holds by construction.  Fixture
    synthesis for :func:`opus_packet_census`."""
    ident = (b"OpusHead" + bytes([1, channels])
             + pre_skip.to_bytes(2, "little")
             + sample_rate.to_bytes(4, "little")
             + bytes(2) + bytes([0]))
    segments = []
    total = 0
    for config, stereo, fcode, n_frames in packet_tocs:
        toc = (config << 3) | (0x04 if stereo else 0) | fcode
        pkt = bytes([toc])
        if fcode == 3:
            pkt += bytes([(0x80 if n_frames > 1 else 0) | n_frames])
        pkt += bytes(4 + (total % 5))  # varied dummy frame payload
        segments.append(pkt)
        total += n_frames * _OPUS_CONFIGS[config][2]
    out = [_ogg_page(0x02, 0, 0x4F50_5553, 0, [ident])]
    out.append(_ogg_page(0x04, pre_skip + total, 0x4F50_5553, 1,
                         segments))
    return b"".join(out)


def encode_opus_toc_stream(doc_id: int, n_packets: int) -> bytes:
    """Per-row Ogg Opus fixture for :func:`opus_packet_census` whose
    packet TOCs follow closed-form (doc_id, j) arithmetic that SQL can
    replay: packet j has config (doc_id + 3j) mod 32, stereo
    (doc_id + j) mod 2, frame-count code j mod 4, and a code-3 packet
    carries M = 1 + j mod 2 frames."""
    tocs = []
    for j in range(n_packets):
        fcode = j % 4
        n_frames = (1 + j % 2) if fcode == 3 else (1 if fcode == 0 else 2)
        tocs.append(((doc_id + 3 * j) % 32, (doc_id + j) % 2 == 1, fcode,
                     n_frames))
    return encode_opus_packets(tocs)


def opus_census(media: DataFrame) -> DataFrame:
    """DataFrame boundary for :func:`opus_packet_census`: one row per
    (file, audio packet) with the TOC decode and the granule
    cross-check, Arrow-batched; a malformed stream degrades to a
    ``pkt_idx=-1`` error row with the reason in ``mode``."""
    schema = (
        "doc_id long, pkt_idx long, config long, stereo boolean, "
        "fcode long, n_frames long, frame_samples long, "
        "pkt_samples long, mode string, bandwidth string, "
        "granule_match boolean"
    )

    def parse(payload):
        try:
            return opus_packet_census(payload)
        except ValueError as exc:
            return [(-1, 0, None, 0, 0, 0, 0, f"_error: {exc}", None, None)]

    return payload_rows(media.select("doc_id", "payload"), parse, schema)


def encode_tiff_rgb(img, compression: int = 1, predictor: int = 1) -> bytes:
    """Minimal little-endian TIFF writer (single strip) — the
    fixture-synthesis counterpart of :func:`_decode_tiff`, mirroring
    encode_png/encode_wav_pcm for the other formats. ``compression``:
    1 none, 5 LZW, 8 Deflate, 32773 PackBits; ``predictor=2`` applies
    horizontal differencing before compression (8-bit samples)."""
    import zlib

    import numpy as np

    arr = np.ascontiguousarray(img, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, spp = arr.shape
    if predictor == 2:
        diffed = arr.astype(np.int16)
        diffed[:, 1:] = (diffed[:, 1:] - diffed[:, :-1]) % 256
        data = diffed.astype(np.uint8).tobytes()
    elif predictor == 1:
        data = arr.tobytes()
    else:
        raise ValueError(f"predictor must be 1 or 2, got {predictor}")
    if compression == 5:
        data = _tiff_lzw_encode(data)
    elif compression == 8:
        data = zlib.compress(data)
    elif compression == 32773:
        data = _packbits_encode(data)
    elif compression != 1:
        raise ValueError(f"unsupported compression {compression}")
    # layout: header(8) + pixel data + IFD
    data_off = 8
    ifd_off = data_off + len(data)

    def entry(tag, typ, cnt, val):
        return (
            tag.to_bytes(2, "little") + typ.to_bytes(2, "little")
            + cnt.to_bytes(4, "little") + val.to_bytes(4, "little")
        )

    entries = [
        entry(256, 4, 1, w),            # ImageWidth
        entry(257, 4, 1, h),            # ImageLength
        entry(258, 3, 1, 8) if spp == 1 else None,  # BitsPerSample (inline)
        entry(259, 3, 1, compression),  # Compression
        entry(262, 3, 1, 1 if spp == 1 else 2),  # Photometric
        entry(273, 4, 1, data_off),     # StripOffsets
        entry(277, 3, 1, spp),          # SamplesPerPixel
        entry(278, 4, 1, h),            # RowsPerStrip
        entry(279, 4, 1, len(data)),    # StripByteCounts
        entry(317, 3, 1, 2) if predictor == 2 else None,  # Predictor
    ]
    if spp != 1:
        # BitsPerSample array for multi-sample lives after the IFD
        bps_off = None  # patched below
        entries[2] = None
    entries = [e for e in entries if e is not None]
    n = len(entries) + (1 if spp != 1 else 0)
    ifd = n.to_bytes(2, "little")
    if spp != 1:
        bps_off = ifd_off + 2 + 12 * n + 4
        entries.insert(2, entry(258, 3, spp, bps_off))
    ifd += b"".join(sorted(entries, key=lambda e: int.from_bytes(e[:2], "little")))
    ifd += (0).to_bytes(4, "little")  # next IFD = none
    tail = b"" if spp == 1 else b"".join(
        (8).to_bytes(2, "little") for _ in range(spp)
    )
    return (
        b"II*\x00" + ifd_off.to_bytes(4, "little") + data + ifd + tail
    )


def audio_spectral_features(media: DataFrame) -> DataFrame:
    """FFT-based spectral features per WAV payload: dominant frequency
    (argmax of the rFFT magnitude, DC excluded), spectral centroid and
    bandwidth in Hz — the standard audio-quality/content signals computed
    with numpy's FFT inside the same payload_rows kernel as
    audio_features. Undecodable rows drop (skip-malformed contract)."""
    import numpy as np

    schema = (
        "media_id long, sample_rate long, dominant_hz double, "
        "centroid_hz double, bandwidth_hz double"
    )

    def parse(payload):
        try:
            rate, x = decode_wav(payload)
        except (ValueError, NotImplementedError):
            return []
        if len(x) < 4:
            return []
        mag = np.abs(np.fft.rfft(x))
        freqs = np.fft.rfftfreq(len(x), d=1.0 / rate)
        mag[0] = 0.0  # exclude DC from all three measures
        total = mag.sum()
        if total <= 0:
            # constant signal: no spectral content above DC — report
            # zeros rather than dropping (the row DID decode)
            dom = cent = bw = 0.0
        else:
            dom = float(freqs[int(mag.argmax())])
            cent = float((freqs * mag).sum() / total)
            bw = float(np.sqrt((((freqs - cent) ** 2) * mag).sum() / total))
        return (rate, round(dom, 2), round(cent, 2), round(bw, 2))

    return payload_rows(media.select("media_id", "payload"), parse, schema)


def _dct_mat_n(n: int):
    """Orthonormal n-point DCT-II matrix (the 32-point sibling of the
    8-point matrix in operators/jpeg.py)."""
    import numpy as np

    k = np.arange(n, dtype=np.float64)[:, None]
    i = np.arange(n, dtype=np.float64)[None, :]
    d = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * i + 1) * k / (2 * n))
    d[0] /= np.sqrt(2.0)
    return d


def phash64(img) -> int:
    """Reference perceptual hash (pHash) of a decoded (h, w, c) uint8
    image: ITU-R 601 luma → 32×32 nearest resize → 2-D orthonormal DCT →
    top-left 8×8 low-frequency block → threshold each coefficient against
    the median of the 63 AC coefficients (DC excluded from the median so a
    global brightness shift cannot flip every bit) → 64 bits packed
    row-major, returned as a SIGNED int64 (Spark LongType-compatible).

    Deterministic pure numpy — no RNG, no library codecs — so the Spark
    operator's output is exactly replayable in tests."""
    import numpy as np

    arr = np.asarray(img, dtype=np.float64)
    if arr.ndim == 3:
        if arr.shape[2] >= 3:
            gray = (
                0.299 * arr[:, :, 0] + 0.587 * arr[:, :, 1] + 0.114 * arr[:, :, 2]
            )
        else:
            gray = arr[:, :, 0]
    else:
        gray = arr
    g32 = resize_nearest(gray, 32, 32)
    d = _dct_mat_n(32)
    coeffs = d @ g32 @ d.T
    low = coeffs[:8, :8].ravel()
    med = float(np.median(low[1:]))
    bits = low > med
    h = 0
    for bit in bits:
        h = (h << 1) | int(bit)
    if h >= 1 << 63:
        h -= 1 << 64
    return h


def whash64(img) -> int:
    """INTEGER-EXACT perceptual hash — the Walsh-Hadamard sibling of
    ``phash64``: scaled integer luma (299·R + 587·G + 114·B, the 601
    weights ×1000 so no float enters), nearest-resize to 8×8, 2-D
    natural-ordered Walsh-Hadamard transform (H[j,i] = (−1)^popcount(i&j)
    — ±1 entries, so every coefficient is an exact BIGINT), threshold
    each of the 64 coefficients against the 32nd-smallest of the 63 AC
    coefficients (DC excluded, strict >), bits packed row-major into a
    signed int64. Same frequency-domain dedup idea as pHash (WHT is the
    ±1 orthogonal transform family; 'wHash' in the imagehash library),
    but every step is integer arithmetic an external SQL engine can
    replay bit-for-bit — the exact-witness complement of the float-DCT
    ``phash64`` (m7, rows-only), like e14 is for e2."""
    import numpy as np

    arr = np.asarray(img, dtype=np.int64)
    if arr.ndim == 3:
        if arr.shape[2] >= 3:
            luma = 299 * arr[:, :, 0] + 587 * arr[:, :, 1] + 114 * arr[:, :, 2]
        else:
            luma = 1000 * arr[:, :, 0]
    else:
        luma = 1000 * arr
    l8 = resize_nearest(luma, 8, 8).astype(np.int64)
    ij = np.arange(8, dtype=np.int64)
    # popcount parity of i&j via the 3-bit domain (values 0..7)
    pc = np.array([bin(v).count("1") for v in range(8)], dtype=np.int64)
    h_mat = 1 - 2 * (pc[ij[:, None] & ij[None, :]] % 2)
    coeffs = h_mat @ l8 @ h_mat.T
    flat = coeffs.ravel()
    med = int(np.sort(flat[1:])[31])  # 32nd smallest of the 63 AC terms
    bits = flat > med
    h = 0
    for bit in bits:
        h = (h << 1) | int(bit)
    if h >= 1 << 63:
        h -= 1 << 64
    return h


def _image_hash(media: DataFrame, hash64, col: str) -> DataFrame:
    """(media_id, ``col``): ``hash64`` of each decoded image in one
    payload_rows pass; a payload that fails to decode or hash gives
    NULL."""

    def parse(payload):
        try:
            return (hash64(decode_image(payload)),)
        except Exception:
            return (None,)

    return payload_rows(
        media.select("media_id", "payload"), parse, f"media_id long, {col} long"
    )


def image_whash(media: DataFrame) -> DataFrame:
    """(media_id, whash): integer WHT perceptual hash per image via the
    real decode path in one Arrow-batched payload_rows pass (the
    ``image_phash`` layout with the hash kernel swapped). Undecodable
    payloads yield NULL."""
    return _image_hash(media, whash64, "whash")


def image_phash(media: DataFrame) -> DataFrame:
    """(media_id, phash): perceptual hash per image via the real decode
    path inside one Arrow-batched payload_rows pass — payload bytes never
    leave the executor. Undecodable payloads yield NULL phash (same
    decode_err contract as decode_and_featurize)."""
    return _image_hash(media, phash64, "phash")


def phash_near_dup_pairs(
    media: DataFrame, max_hamming: int = 3, bands: int = 4
) -> DataFrame:
    """Perceptually-near-duplicate image PAIRS (id_a, id_b, hamming):
    pHash each image (one decode pass, persisted — both sides of the
    band self-join read it), then the same banded-pigeonhole equi-join
    layout as SimHash text dedup (operators/dedup.hamming_near_dup_pairs).
    The image counterpart of d14: candidate generation never compares
    all pairs, verification is one JVM bit_count(xor)."""
    from torcdb_spark.operators.dedup import hamming_near_dup_pairs

    hashes = (
        image_phash(regime.spread(media))
        .where(F.col("phash").isNotNull())
        .persist()
    )
    return hamming_near_dup_pairs(
        hashes,
        max_hamming=max_hamming,
        bands=bands,
        id_col="media_id",
        hash_col="phash",
    )


def encode_avi_mjpeg(frames, fps: int = 10, quality: int = 90) -> bytes:
    """Minimal-but-well-formed AVI (RIFF) container holding an MJPEG
    video stream: LIST hdrl (avih + one 'vids'/'MJPG' strl) + LIST movi
    with one '00dc' chunk per frame (each a baseline JPEG from
    operators/jpeg.encode_jpeg_baseline) + an idx1 index. Chunks are
    even-padded per the RIFF rule. Pure stdlib struct packing — the video
    sibling of encode_wav_pcm, so round-trips are testable with no
    container/codec libs."""
    import struct

    from torcdb_spark.operators.jpeg import encode_jpeg_baseline

    if not frames:
        raise ValueError("encode_avi_mjpeg needs at least one frame")
    h, w = frames[0].shape[:2]
    payloads = [encode_jpeg_baseline(f, quality=quality) for f in frames]

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) % 2 else b""
        return fourcc + struct.pack("<I", len(data)) + data + pad

    def lst(listtype: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", listtype + data)

    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # microseconds per frame
        0, 0, 0x10,        # max bytes/sec, padding, AVIF_HASINDEX
        len(frames), 0, 1, 0,
        w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIIi", 0, 0, 0, 0, 1, fps, 0, len(frames), 0, 10000, 0)
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_chunks = b"".join(chunk(b"00dc", p) for p in payloads)
    movi = lst(b"movi", movi_chunks)
    # idx1 offsets are relative to the start of the movi LIST's data
    idx_entries, off = [], 4
    for p in payloads:
        idx_entries.append(struct.pack("<4sIII", b"00dc", 0x10, off, len(p)))
        off += 8 + len(p) + (len(p) % 2)
    idx1 = chunk(b"idx1", b"".join(idx_entries))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi_mjpeg(payload: bytes):
    """Parse a RIFF/AVI container and return (meta, frames): meta =
    (declared_n_frames, width, height) from the avih header, frames = the
    list of raw JPEG payloads from the movi '00dc'/'00db' chunks in
    stream order. Real chunk walking (sizes + even padding honored);
    raises ValueError on a malformed container. Frame pixel decode is the
    caller's step (operators/jpeg.decode_jpeg) so frame SAMPLING can skip
    JPEG work for unsampled frames — the point of a container-aware
    sampler."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    meta = None
    frames = []

    def walk(buf: bytes, start: int, end: int) -> None:
        nonlocal meta
        pos = start
        while pos + 8 <= end:
            fourcc = buf[pos:pos + 4]
            (size,) = struct.unpack_from("<I", buf, pos + 4)
            data_start = pos + 8
            data_end = data_start + size
            if data_end > end:
                raise ValueError("chunk overruns container")
            if fourcc == b"LIST":
                walk(buf, data_start + 4, data_end)
            elif fourcc == b"avih":
                f = struct.unpack_from("<14I", buf, data_start)
                meta = (f[4], f[8], f[9])
            elif fourcc in (b"00dc", b"00db"):
                frames.append(buf[data_start:data_end])
            pos = data_end + (size % 2)

    walk(payload, 12, len(payload))
    if meta is None:
        raise ValueError("no avih header")
    return meta, frames


def video_frame_features(media: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL video frame sampling: parse the AVI container, decode every
    ``every_n``-th MJPEG frame (unsampled frames are never JPEG-decoded —
    container-aware seek, the whole point of frame sampling at 100 TB),
    and emit per-frame (media_id, frame_idx, width, height, mean_luma,
    decode_err). One payload_rows pass; payloads never leave the
    executor.  A malformed container or frame appends one
    ``frame_idx=-1`` error row after the frames already decoded."""
    from torcdb_spark.operators.jpeg import decode_jpeg

    def parse(payload):
        rows = []
        try:
            _meta, frames = decode_avi_mjpeg(payload)
            for idx in range(0, len(frames), every_n):
                img = decode_jpeg(frames[idx])
                luma = (
                    0.299 * img[:, :, 0]
                    + 0.587 * img[:, :, 1]
                    + 0.114 * img[:, :, 2]
                ).mean()
                rows.append((idx, img.shape[1], img.shape[0],
                             round(float(luma), 3), None))
        except Exception as exc:  # malformed container/frame
            rows.append((-1, None, None, None, str(exc)[:80]))
        return rows

    return payload_rows(
        media.select("media_id", "payload"),
        parse,
        "media_id long, frame_idx long, width long, height long, "
        "mean_luma double, decode_err string",
    )
