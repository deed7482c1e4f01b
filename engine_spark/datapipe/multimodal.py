"""Multimodal column handling: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched pandas functions
over ``mapInPandas``.

PNG, BMP, GIF and baseline JPEG are decoded, resampled, and re-encoded
FOR REAL — pure stdlib+numpy (PNG: zlib inflate + per-row unfilter per
the public PNG spec / RFC 2083; BMP: BI_RGB row walk with palette
expansion; GIF: variable-width LZW per the GIF89a spec; JPEG: Huffman +
dequant + IDCT per ITU-T T.81, see datapipe.jpeg; numpy bilinear
resample; zlib deflate + crc32 on the PNG way out). WAV/PCM16 audio
decodes for real (RIFF chunk walk), MP4 video DEMUXES for real
(ISO-BMFF box walk: stts/stsz/stsc/stco sample tables → per-frame byte
ranges) with REAL pixel decode for Motion-JPEG tracks, raw YUV4MPEG2
(.y4m) video decodes fully (plane split, chroma upsample, BT.601), and
progressive JPEG (SOF2 successive approximation) decodes too.
H.264 (avc1) FRAME pixels decode for real too (see h264.py):
CAVLC/CABAC I/IDR, CAVLC short-GOP P frames, and CAVLC B slices
(one/two-list 16x16 bi-prediction over POC-split lists); only the
B tools the decoder refuses (direct/skip, partitions, weighted
bipred) and CABAC inter degrade to NULL rows
absent in this container, so it uses a documented deterministic stand-in
that keeps the Arrow plumbing (schemas, batch iteration, null-safety,
partition-level parallelism) fully testable.

Scale notes: mapInPandas streams Arrow record batches — payload bytes never
materialize on the driver; batch size is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``. Binary-heavy tables should
be read with large ``maxPartitionBytes`` and processed map-only (no shuffle
of payload columns; metadata-only columns flow onward).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

try:  # pragma: no cover - not present in this container
    from PIL import Image  # noqa: F401

    HAS_PIL = True
except ImportError:
    HAS_PIL = False

import struct as _struct
import zlib as _zlib

#: Everything a malformed payload can raise out of the stdlib codecs:
#: corrupt IDAT → zlib.error, truncated chunk → struct.error, out-of-range
#: palette index → IndexError, plus our own ValueError for profile checks.
#: Decode call sites catch this tuple so one bad crawled file degrades to
#: the metadata-only row instead of failing the executor task (per-row
#: total-function contract).
#: OverflowError: a crafted JPEG stream can walk the DC predictor past
#: 2^31; numpy 2.x raises OverflowError packing it into int32 — degrade
#: that row to NULL like every other poisoned payload (numpy 1.x wraps,
#: which the predictor-range check in jpeg.py catches first).
DECODE_ERRORS = (ValueError, _zlib.error, _struct.error, IndexError, OverflowError)

DECODE_SCHEMA = (
    "doc_id long, format string, width int, height int, n_frames int, "
    "checksum long"
)


def _mp4_track_dims(b: bytes) -> tuple[int | None, int | None]:
    """Width/height (whole pixels) from the VIDEO trak's tkhd, whose v0
    body ends with 16.16 fixed-point width/height (ISO 14496-12 §8.3.2).
    Traks are checked by hdlr type: an audio-first track layout (tkhd
    dims legitimately zero) must not shadow a later video trak's real
    dimensions. Falls back to the first trak with nonzero dims when no
    trak declares 'vide'; (None, None) when nothing qualifies."""
    import struct

    def tkhd_dims(ts: int, te: int) -> tuple[int | None, int | None]:
        tk = _mp4_child(b, ts, te, b"tkhd")
        if tk is None or tk[1] - tk[0] < 84:
            return None, None
        w16, h16 = struct.unpack(">II", b[tk[1] - 8 : tk[1]])
        return (w16 >> 16) or None, (h16 >> 16) or None

    try:
        top = list(_mp4_boxes(b, 0, len(b)))
        moov = next(((s, e) for t, s, e in top if t == b"moov"), None)
        if moov is None:
            return None, None
        fallback: tuple[int | None, int | None] = (None, None)
        for typ, ts, te in _mp4_boxes(b, *moov):
            if typ != b"trak":
                continue
            mdia = _mp4_child(b, ts, te, b"mdia")
            hdlr = _mp4_child(b, *mdia, b"hdlr") if mdia else None
            is_video = (
                hdlr is not None
                and b[hdlr[0] + 8 : hdlr[0] + 12] == b"vide"
            )
            w, h = tkhd_dims(ts, te)
            if is_video and (w or h):
                # only short-circuit on a video trak that declares REAL
                # dims — a zero-dim video trak must not shadow a later
                # one with dimensions (or the non-video fallback)
                return w, h
            if fallback == (None, None) and (w or h):
                fallback = (w, h)
        return fallback
    except DECODE_ERRORS:
        pass
    return None, None


def _i32(v):
    """Clamp header-declared values into the INT Arrow columns: a hostile
    or corrupt container can declare dims/frame counts >= 2^31, which
    Spark's unsafe Arrow cast would silently WRAP — degrade to NULL."""
    return v if v is not None and 0 <= v < 2**31 else None


def decode_meta(df: DataFrame) -> DataFrame:
    """(doc_id, payload binary) → typed media metadata via mapInPandas.

    REAL dispatch over the in-repo stdlib parsers (no imaging library):
    image containers via parse_image_header (PNG/GIF/BMP/JPEG/TIFF
    header fields, n_frames=1 at header granularity), MP4 via parse_mp4
    (ISO-BMFF sample tables → frame count; tkhd → track dims), WAV via
    parse_wav_header (PCM frame count; no pixel dims), FLAC via
    parse_flac_header (STREAMINFO total samples). Unrecognized
    payloads degrade to honest NULL metadata — no fabricated numbers;
    ``checksum`` (byte sum mod 2^16) is a real total function computed
    for every non-NULL payload regardless of format.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "format", "width", "height", "n_frames", "checksum"]
        for pdf in batches:
            rows = []
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                if p is None:
                    rows.append((int(did), None, None, None, None, None))
                    continue
                b = bytes(p)
                ck = sum(b) % 65536
                fmt, w, h = parse_image_header(b)
                if fmt is not None:
                    rows.append((int(did), fmt, _i32(w), _i32(h), 1, ck))
                    continue
                try:
                    demux = parse_mp4(b)
                    tw, th = _mp4_track_dims(b)
                    if (not tw or not th) and demux.get("avcc"):
                        # tkhd dims are optional in the wild; for avc1
                        # the SPS states the coded size authoritatively
                        try:
                            from engine_spark.datapipe.h264 import parse_avcc

                            sps = parse_avcc(demux["avcc"])["sps"]
                            cl, cr_, ct, cb_ = sps["crop"]
                            tw = sps["width_mbs"] * 16 - 2 * (cl + cr_)
                            th = sps["height_mbs"] * 16 - 2 * (ct + cb_)
                        except DECODE_ERRORS:
                            pass
                    rows.append(
                        (int(did), "mp4", _i32(tw), _i32(th),
                         _i32(demux["n_frames"]), ck)
                    )
                    continue
                except DECODE_ERRORS:
                    pass
                wav = parse_wav_header(b)
                if wav is not None:
                    bpf = max(1, wav["channels"] * max(wav["bits"], 8) // 8)
                    rows.append(
                        (int(did), "wav", None, None,
                         _i32(wav["data_len"] // bpf), ck)
                    )
                    continue
                flac = parse_flac_header(b)
                if flac is not None:
                    rows.append(
                        (int(did), "flac", None, None,
                         _i32(flac["total_samples"]), ck)
                    )
                    continue
                rows.append((int(did), None, None, None, None, ck))
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(run, schema=DECODE_SCHEMA)


def parse_image_header(b: bytes) -> tuple[str | None, int | None, int | None]:
    """(format, width, height) from raw image bytes — pure stdlib, no
    imaging library. Parses the four public container formats whose
    dimensions live in fixed header fields or a marker walk:

    - PNG: 8-byte signature, IHDR width/height big-endian u32 at 16..24
      (PNG spec, RFC 2083 §11.2.2)
    - GIF: GIF87a/GIF89a, logical-screen width/height little-endian u16
      at 6..10 (GIF89a spec §18)
    - BMP: 'BM', BITMAPINFOHEADER signed LE i32 at 18..26 (height may be
      negative = top-down; magnitude is the pixel height)
    - JPEG: marker walk to the first SOFn (height, width big-endian u16
      at offset +5 in the frame header; ITU T.81 §B.2.2)

    Unknown/truncated payloads → (None, None, None); decode stays a
    per-row total function so mapInPandas batches never throw.
    """
    import struct

    if len(b) >= 24 and b[:8] == b"\x89PNG\r\n\x1a\n" and b[12:16] == b"IHDR":
        w, h = struct.unpack(">II", b[16:24])
        return "png", int(w), int(h)
    if len(b) >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", b[6:10])
        return "gif", int(w), int(h)
    if len(b) >= 26 and b[:2] == b"BM":
        # 'BM' is two printable chars, so prose text ("BMW dealers...")
        # can collide; require a known 32-bit-dims DIB header size at
        # offset 14 (BITMAPINFOHEADER and the V2-V5 extensions — the
        # 16-bit-dims CORE variant isn't parsed here) and a positive
        # width before claiming the payload is a bitmap
        (dib,) = struct.unpack("<I", b[14:18])
        w, h = struct.unpack("<ii", b[18:26])
        if dib in (40, 52, 56, 64, 108, 124) and w > 0 and h != 0:
            return "bmp", int(w), abs(int(h))
        return None, None, None
    if len(b) >= 8 and b[:4] in (b"II*\x00", b"MM\x00*"):
        # TIFF: endianness from the magic, first IFD walk for tags 256
        # (ImageWidth) / 257 (ImageLength); SHORT(3) and LONG(4) values
        # are inline when they fit (TIFF 6.0 spec §2)
        end = "<" if b[:2] == b"II" else ">"
        try:
            (ifd,) = struct.unpack(f"{end}I", b[4:8])
            (n_ent,) = struct.unpack(f"{end}H", b[ifd : ifd + 2])
            w = h = None
            for k in range(n_ent):
                off = ifd + 2 + 12 * k
                tag, typ = struct.unpack(f"{end}HH", b[off : off + 4])
                if tag not in (256, 257):
                    continue
                if typ == 3:  # SHORT
                    (v,) = struct.unpack(f"{end}H", b[off + 8 : off + 10])
                elif typ == 4:  # LONG
                    (v,) = struct.unpack(f"{end}I", b[off + 8 : off + 12])
                else:
                    continue
                if tag == 256:
                    w = int(v)
                else:
                    h = int(v)
            if w and h:
                return "tiff", w, h
        except DECODE_ERRORS:
            pass
        return None, None, None
    if len(b) >= 4 and b[:2] == b"\xff\xd8":
        i = 2
        while i + 9 < len(b):
            if b[i] != 0xFF:
                break
            marker = b[i + 1]
            if marker == 0xFF:
                i += 1  # fill byte before a marker (ITU T.81 B.1.1.2)
                continue
            if marker == 0x01 or 0xD0 <= marker <= 0xD9:
                i += 2  # standalone markers carry no length
                continue
            (seglen,) = struct.unpack(">H", b[i + 2 : i + 4])
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                return "jpeg", int(w), int(h)
            i += 2 + seglen
    return None, None, None


HEADER_SCHEMA = "doc_id long, format string, width int, height int"


def decode_image_headers(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """REAL (non-gated) decode path: (doc_id, payload) → container format +
    pixel dimensions parsed from the actual bytes with the stdlib header
    parser — same Arrow-batched mapInPandas plumbing as decode_meta, no
    imaging library needed."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payloads are normal in a real corpus: decode must stay a
            # per-row total function (bytes(None) would kill the whole task)
            meta = [
                (None, None, None)
                if p is None
                else (
                    lambda t: (t[0], _i32(t[1]), _i32(t[2]))
                )(parse_image_header(bytes(p)))
                for p in pdf[payload_col]
            ]
            out = pd.DataFrame(meta, columns=["format", "width", "height"])
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return df.mapInPandas(run, schema=HEADER_SCHEMA)


# ---------------------------------------------------------------------------
# REAL stdlib PNG pixel codec (zlib inflate + per-row unfilter; PNG spec /
# RFC 2083 §6: filter types 0-4). No imaging library involved. Every legal
# profile decodes: bit depths 1/2/4/8/16 (16-bit scales to the high byte),
# color types 0 (gray), 2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA),
# and Adam7 interlace (each pass an independently-filtered sub-image,
# scattered on the pass grid).
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


#: Adam7 pass grid: (x0, y0, x_step, y_step) per pass (PNG spec §8.2)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(raw: bytes, rpos: int, ph: int, rowbytes: int, bpp: int):
    """Unfilter ``ph`` scanlines of ``rowbytes`` bytes (filter distance
    ``bpp`` bytes — the PNG spec's byte-level filtering, which makes this
    one routine serve every depth: 16-bit rows filter with bpp=2*nch,
    sub-byte rows with bpp=1). Returns ((ph, rowbytes) uint8, new rpos).

    Vectorization per filter type (measured, PERF.md round 7): Up is one
    vector add; Sub is a per-lane cumsum (mod distributes over the prefix
    sum); Average/Paeth have a true x-sequential recurrence through a
    nonlinear floor/branch, so the win there is a tight plain-int byte
    loop with the predictor inlined (numpy scalar indexing is ~8x slower,
    per-pixel small-array numpy ~12x)."""
    import numpy as np

    if len(raw) < rpos + ph * (rowbytes + 1):
        raise ValueError("IDAT shorter than image")
    lanes = rowbytes // bpp
    out = np.zeros((ph, rowbytes), np.uint8)
    prev = np.zeros((lanes, bpp), np.int32)
    for y in range(ph):
        f = raw[rpos]
        line = (
            np.frombuffer(raw[rpos + 1 : rpos + 1 + rowbytes], np.uint8)
            .astype(np.int32)
            .reshape(lanes, bpp)
        )
        rpos += 1 + rowbytes
        if f == 0:  # None
            cur = line
        elif f == 2:  # Up
            cur = (line + prev) & 0xFF
        elif f == 1:  # Sub: per-lane byte prefix sum
            cur = (np.cumsum(line, axis=0, dtype=np.int64) & 0xFF).astype(
                np.int32
            )
        elif f in (3, 4):  # Average / Paeth
            cur_l = list(raw[rpos - rowbytes : rpos])
            prev_l = prev.ravel().tolist()
            if f == 3:
                for i in range(rowbytes):
                    left = cur_l[i - bpp] if i >= bpp else 0
                    cur_l[i] = (cur_l[i] + ((left + prev_l[i]) >> 1)) & 0xFF
            else:
                for i in range(rowbytes):
                    left = cur_l[i - bpp] if i >= bpp else 0
                    up = prev_l[i]
                    ul = prev_l[i - bpp] if i >= bpp else 0
                    p = left + up - ul
                    pa = p - left
                    pb = p - up
                    pc = p - ul
                    if pa < 0:
                        pa = -pa
                    if pb < 0:
                        pb = -pb
                    if pc < 0:
                        pc = -pc
                    if pa <= pb and pa <= pc:
                        pred = left
                    elif pb <= pc:
                        pred = up
                    else:
                        pred = ul
                    cur_l[i] = (cur_l[i] + pred) & 0xFF
            cur = np.array(cur_l, np.int32).reshape(lanes, bpp)
        else:
            raise ValueError(f"bad filter type {f} at row {y}")
        out[y] = cur.astype(np.uint8).reshape(rowbytes)
        prev = cur
    return out, rpos


def _png_rows_to_samples(rows, pw: int, nch: int, depth: int):
    """(ph, rowbytes) filtered-out bytes → (ph, pw, nch) uint8 samples.
    16-bit samples scale to 8 bits (high byte — the PNG-recommended
    approximation); sub-byte gray/palette values unpack MSB-first."""
    import numpy as np

    ph = rows.shape[0]
    if depth == 8:
        return rows[:, : pw * nch].reshape(ph, pw, nch)
    if depth == 16:
        pairs = rows[:, : pw * nch * 2].reshape(ph, pw, nch, 2)
        return pairs[:, :, :, 0]  # high byte == round(v / 257) ± 1
    # depth 1/2/4: nch == 1 (gray or palette indexes), bits MSB-first
    bits = np.unpackbits(rows, axis=1)
    vals = bits.reshape(ph, -1, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    v = (vals * weights[None, None, :]).sum(axis=2).astype(np.uint8)
    return v[:, :pw, None]


def decode_png(b: bytes):
    """PNG bytes → HxWxC uint8 numpy array. Pure stdlib: chunk walk,
    concatenated-IDAT zlib inflate, per-row unfilter (all five filter
    types), Adam7 deinterlace, every legal bit depth (1/2/4/8/16 — 16-bit
    scales to 8). Palette images are expanded through PLTE to RGB."""
    import struct
    import zlib

    import numpy as np

    if b[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, idat, plte = 8, [], None
    w = h = depth = ctype = interlace = None
    while pos + 8 <= len(b):
        (ln,) = struct.unpack(">I", b[pos : pos + 4])
        typ = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + ln]
        if typ == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif typ == b"PLTE":
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
        pos += 12 + ln  # length + type + data + crc32
    if w is None or not idat:
        raise ValueError("truncated PNG (no IHDR/IDAT)")
    if ctype not in _PNG_CHANNELS:
        raise ValueError(f"unknown color type {ctype}")
    if depth not in (1, 2, 4, 8, 16) or (
        depth < 8 and ctype not in (0, 3)
    ) or (depth == 16 and ctype == 3):
        raise ValueError(f"illegal PNG depth/type combination {depth}/{ctype}")
    nch = _PNG_CHANNELS[ctype]
    raw = zlib.decompress(b"".join(idat))
    bpp = max(1, (depth * nch) // 8)
    full = np.zeros((h, w, nch), np.uint8)
    passes = _ADAM7 if interlace == 1 else ((0, 0, 1, 1),)
    if interlace not in (0, 1):
        raise ValueError(f"unknown PNG interlace method {interlace}")
    rpos = 0
    for x0, y0, xs, ys in passes:
        pw = (w - x0 + xs - 1) // xs
        ph = (h - y0 + ys - 1) // ys
        if pw <= 0 or ph <= 0:
            continue  # empty pass contributes no bytes (spec §8.2)
        rowbytes = (pw * nch * depth + 7) // 8
        rows, rpos = _png_unfilter(raw, rpos, ph, rowbytes, bpp)
        full[y0::ys, x0::xs] = _png_rows_to_samples(rows, pw, nch, depth)
    arr = full
    if ctype == 3:
        if plte is None:
            raise ValueError("palette image without PLTE")
        if int(arr[:, :, 0].max(initial=0)) >= len(plte):
            raise ValueError("palette index outside PLTE")
        arr = plte[arr[:, :, 0]]
    elif ctype == 0 and depth < 8:
        arr = (arr.astype(np.int64) * (255 // ((1 << depth) - 1))).astype(
            np.uint8
        )
    return arr


def encode_png(arr, filter_type: int | str = 0) -> bytes:
    """HxW or HxWxC uint8 numpy array → PNG bytes (stdlib zlib + crc32).

    ``filter_type`` selects the per-row filter: 0-4 fix one type (round-
    trip tests exercise each unfilter branch), ``"adaptive"`` picks the
    best filter PER ROW by the libpng minimum-sum-of-absolute-differences
    heuristic — what production encoders emit, and what makes real-world
    PNGs hit the Sub/Average/Paeth decode paths row-interleaved."""
    import struct
    import zlib

    import numpy as np

    a = np.asarray(arr, np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, nch = a.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[nch]
    adaptive = filter_type == "adaptive"
    if not adaptive and filter_type not in (0, 1, 2, 3, 4):
        raise ValueError(f"bad filter type {filter_type}")
    # Filtering (unlike UNfiltering) references the ORIGINAL neighbor
    # bytes, not the filtered ones — no recurrence, so every filter type
    # vectorizes whole-row: shift the scanline by one pixel for `left`,
    # use the prior scanline for `up`/`ul`.
    flat = a.reshape(h, w, nch).astype(np.int32)
    rows = []
    prev = np.zeros((w, nch), np.int32)

    def lshift(row: "np.ndarray") -> "np.ndarray":
        out = np.zeros_like(row)
        out[1:] = row[:-1]
        return out

    def filt_row(line: "np.ndarray", ft: int) -> "np.ndarray":
        if ft == 0:
            return line
        if ft == 1:
            return (line - lshift(line)) & 0xFF
        if ft == 2:
            return (line - prev) & 0xFF
        if ft == 3:
            return (line - ((lshift(line) + prev) >> 1)) & 0xFF
        left, up, ul = lshift(line), prev, lshift(prev)
        p = left + up - ul
        pa = np.abs(p - left)
        pb = np.abs(p - up)
        pc = np.abs(p - ul)
        pred = np.where(
            (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul)
        )
        return (line - pred) & 0xFF

    for y in range(h):
        line = flat[y]
        if adaptive:
            # MSAD: treat filtered bytes as signed, pick the row whose
            # absolute sum is smallest (libpng's selection heuristic)
            best_ft, best_f, best_score = 0, None, None
            for ft in range(5):
                f = filt_row(line, ft)
                score = int(np.abs(((f + 128) & 0xFF) - 128).sum())
                if best_score is None or score < best_score:
                    best_ft, best_f, best_score = ft, f, score
            rows.append(bytes([best_ft]) + best_f.astype(np.uint8).tobytes())
        else:
            f = filt_row(line, filter_type)
            rows.append(
                bytes([filter_type]) + f.astype(np.uint8).tobytes()
            )
        prev = line

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    idat = zlib.compress(b"".join(rows), 6)
    return _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def bilinear_resize(arr, out_w: int, out_h: int):
    """Vectorized numpy bilinear resample (half-pixel-center convention,
    the standard align_corners=False mapping). uint8 in → uint8 out."""
    import numpy as np

    a = np.asarray(arr, np.float64)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, _ = a.shape
    xs = np.clip((np.arange(out_w) + 0.5) * (w / out_w) - 0.5, 0, w - 1)
    ys = np.clip((np.arange(out_h) + 0.5) * (h / out_h) - 0.5, 0, h - 1)
    x0 = np.floor(xs).astype(int)
    y0 = np.floor(ys).astype(int)
    x1 = np.minimum(x0 + 1, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    fx = (xs - x0)[None, :, None]
    fy = (ys - y0)[:, None, None]
    top = a[y0][:, x0] * (1 - fx) + a[y0][:, x1] * fx
    bot = a[y1][:, x0] * (1 - fx) + a[y1][:, x1] * fx
    out = top * (1 - fy) + bot * fy
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# REAL stdlib BMP codec (public BITMAPINFOHEADER spec): uncompressed BI_RGB
# at 8 (paletted), 24 (BGR) and 32 (BGRA) bits per pixel, bottom-up and
# top-down row orders, 4-byte row padding. Other compressions (RLE, bit
# fields) raise ValueError — caught by callers as "not decodable here".
# ---------------------------------------------------------------------------


def decode_bmp(b: bytes):
    """BMP bytes → HxWxC uint8 numpy array (RGB order; C=4 keeps alpha)."""
    import struct

    import numpy as np

    if len(b) < 54 or b[:2] != b"BM":
        raise ValueError("not a BMP")
    (data_off,) = struct.unpack("<I", b[10:14])
    (hdr_size,) = struct.unpack("<I", b[14:18])
    if hdr_size < 40:
        raise ValueError("BITMAPCOREHEADER not supported")
    w, h_signed = struct.unpack("<ii", b[18:26])
    _planes, bpp = struct.unpack("<HH", b[26:30])
    (compression,) = struct.unpack("<I", b[30:34])
    if compression != 0:
        raise ValueError(f"BMP compression {compression} not supported (BI_RGB only)")
    if bpp not in (8, 24, 32):
        raise ValueError(f"BMP bpp {bpp} not supported")
    if w <= 0 or h_signed == 0:
        raise ValueError("bad BMP dimensions")
    h = abs(h_signed)
    stride = (w * (bpp // 8) + 3) & ~3  # rows pad to 4 bytes
    if len(b) < data_off + stride * h:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(
        b, np.uint8, count=stride * h, offset=data_off
    ).reshape(h, stride)[:, : w * (bpp // 8)]
    if h_signed > 0:  # bottom-up (the common case)
        rows = rows[::-1]
    if bpp == 8:
        # palette: BGRX quads between the DIB header and the pixel data
        pal_off = 14 + hdr_size
        n_pal = (data_off - pal_off) // 4
        if n_pal < 1:
            raise ValueError("paletted BMP without palette")
        pal = np.frombuffer(
            b, np.uint8, count=n_pal * 4, offset=pal_off
        ).reshape(n_pal, 4)[:, [2, 1, 0]]  # BGRX → RGB
        return pal[rows]
    px = rows.reshape(h, w, bpp // 8)
    if bpp == 24:
        return px[:, :, [2, 1, 0]].copy()  # BGR → RGB
    return px[:, :, [2, 1, 0, 3]].copy()  # BGRA → RGBA


def encode_bmp(arr) -> bytes:
    """HxW or HxWx3 uint8 numpy array (RGB) → 24-bit BI_RGB BMP bytes."""
    import struct

    import numpy as np

    a = np.asarray(arr, np.uint8)
    if a.ndim == 2:
        a = a[:, :, None].repeat(3, axis=2)
    if a.shape[2] == 1:
        a = a.repeat(3, axis=2)
    h, w, _ = a.shape
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), np.uint8)
    rows[:, : w * 3] = a[::-1, :, [2, 1, 0]].reshape(h, w * 3)  # RGB→BGR, bottom-up
    data = rows.tobytes()
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    hdr = struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
    return hdr + dib + data


# ---------------------------------------------------------------------------
# REAL stdlib GIF codec (public GIF89a spec): logical screen descriptor,
# global/local color tables, LZW decompression with variable code width
# (LSB-first packing, spec appendix F), 4-pass interlace reorder; first
# image frame only. The encoder emits the classic "uncompressed GIF" LZW
# stream (literal codes with periodic clear codes so the width never
# grows) — a genuinely valid stream any conformant decoder reads back.
# ---------------------------------------------------------------------------


def _gif_lzw_decode(data: bytes, min_code: int, n_pixels: int) -> bytes:
    """GIF LZW → palette indexes (exactly n_pixels of them)."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    code_size = min_code + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    prev: bytes | None = None
    bitpos, total = 0, len(data) * 8
    while bitpos + code_size <= total and len(out) < n_pixels:
        byte_i = bitpos >> 3
        window = int.from_bytes(data[byte_i : byte_i + 4], "little")
        code = (window >> (bitpos & 7)) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == clear:
            code_size = min_code + 1
            table = table[: clear + 2]
            prev = None
            continue
        if code == end:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError("corrupt GIF LZW stream")
        out += entry
        if prev is not None:
            table.append(prev + entry[:1])
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = entry
    if len(out) < n_pixels:
        raise ValueError("GIF LZW stream ended early")
    return bytes(out[:n_pixels])


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif(b: bytes):
    """GIF bytes → HxWx3 uint8 numpy array (first frame, palette-expanded)."""
    import struct

    import numpy as np

    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    packed = b[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(b, np.uint8, count=n * 3, offset=pos).reshape(n, 3)
        pos += n * 3
    while pos < len(b):
        blk = b[pos]
        if blk == 0x21:  # extension: label + sub-blocks until terminator
            pos += 2
            while pos < len(b) and b[pos]:
                pos += 1 + b[pos]
            pos += 1
        elif blk == 0x2C:  # image descriptor
            _l, _t, w, h = struct.unpack("<HHHH", b[pos + 1 : pos + 9])
            ipacked = b[pos + 9]
            pos += 10
            pal = gct
            if ipacked & 0x80:  # local color table
                n = 2 << (ipacked & 0x07)
                pal = np.frombuffer(b, np.uint8, count=n * 3, offset=pos).reshape(
                    n, 3
                )
                pos += n * 3
            if pal is None:
                raise ValueError("GIF image without color table")
            min_code = b[pos]
            pos += 1
            parts = []
            while pos < len(b) and b[pos]:
                ln = b[pos]
                parts.append(b[pos + 1 : pos + 1 + ln])
                pos += 1 + ln
            idx = np.frombuffer(
                _gif_lzw_decode(b"".join(parts), min_code, w * h), np.uint8
            ).reshape(h, w)
            if idx.max(initial=0) >= len(pal):
                raise ValueError("GIF index outside color table")
            if ipacked & 0x40:  # interlaced: rows arrive in 4 passes
                order = [
                    y
                    for start, step in _GIF_INTERLACE_PASSES
                    for y in range(start, h, step)
                ]
                de = np.empty_like(idx)
                de[order] = idx
                idx = de
            return pal[idx]
        elif blk == 0x3B:
            break
        else:
            raise ValueError(f"unknown GIF block 0x{blk:02x}")
    raise ValueError("GIF without image data")


def encode_gif(indices, palette) -> bytes:
    """HxW uint8 palette-index array + Nx3 RGB palette → GIF89a bytes."""
    import struct

    import numpy as np

    idx = np.asarray(indices, np.uint8)
    pal = np.asarray(palette, np.uint8).reshape(-1, 3)
    h, w = idx.shape
    if idx.max(initial=0) >= len(pal):
        raise ValueError("index outside palette")
    k = max(1, (len(pal) - 1).bit_length() - 1)  # GCT holds 2^(k+1) entries
    n_ct = 2 << k
    ct = np.zeros((n_ct, 3), np.uint8)
    ct[: len(pal)] = pal
    min_code = max(2, k + 1)
    clear, end = 1 << min_code, (1 << min_code) + 1
    # REAL LZW compression (GIF89a appendix F): dictionary of pixel-run
    # prefixes, variable code width growing in lockstep with the decoder's
    # table (both sides grow when entry count reaches 2^width; width caps
    # at 12, and the table resets via a CLEAR code when full). Repetitive
    # images compress for real, and round-trips exercise the decoder's
    # width-growth and KwKwK paths — which a literal-only stream never hits.
    code_size = min_code + 1
    acc = bitlen = 0
    packed = bytearray()

    def emit(code: int) -> None:
        nonlocal acc, bitlen
        acc |= code << bitlen
        bitlen += code_size
        while bitlen >= 8:
            packed.append(acc & 0xFF)
            acc >>= 8
            bitlen -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    emit(clear)
    wbuf = b""
    for v in idx.ravel():
        c = bytes([int(v)])
        wc = wbuf + c
        if wc in table:
            wbuf = wc
            continue
        emit(table[wbuf])
        table[wc] = next_code
        next_code += 1
        if next_code - 1 == (1 << code_size) and code_size < 12:
            code_size += 1  # decoder grows at the same entry count
        elif next_code > 0xFFF:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            code_size = min_code + 1
        wbuf = c
    if wbuf:
        emit(table[wbuf])
    emit(end)
    if bitlen:
        packed.append(acc & 0xFF)
    blocks = b"".join(
        bytes([min(255, len(packed) - i)]) + bytes(packed[i : i + 255])
        for i in range(0, len(packed), 255)
    )
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, 0x80 | k, 0, 0)
        + ct.tobytes()
        + b"\x2c"
        + struct.pack("<HHHHB", 0, 0, w, h, 0)
        + bytes([min_code])
        + blocks
        + b"\x00\x3b"
    )


# ---------------------------------------------------------------------------
# REAL stdlib TIFF codec (public TIFF 6.0 spec): header + single-IFD tag
# walk (inline and out-of-line values, both byte orders), strip assembly
# via StripOffsets/StripByteCounts/RowsPerStrip, uncompressed
# (Compression=1) baseline profiles — bilevel 1-bit (both photometric
# polarities, rows padded to byte boundaries), 8-bit grayscale, and 8-bit
# chunky RGB. Other compressions / planar layouts raise ValueError
# (callers catch DECODE_ERRORS and degrade to the header-only row). The
# encoder writes MULTI-strip files so the decoder's strip assembly is
# genuinely exercised, not just a single contiguous read.
# ---------------------------------------------------------------------------

_TIFF_TYPE_SIZE = {1: 1, 3: 2, 4: 4}  # BYTE, SHORT, LONG — all baseline needs


def _tiff_tags(b: bytes, end: str) -> dict[int, list[int]]:
    """First-IFD tag table → {tag: [values]} (TIFF 6.0 §2: 12-byte
    entries; values inline when sizeof(type)*count <= 4, else at a LONG
    offset). Unknown value types are skipped, not errors."""
    import struct

    (ifd,) = struct.unpack(f"{end}I", b[4:8])
    if ifd + 2 > len(b):
        raise ValueError("TIFF IFD offset out of range")
    (n_ent,) = struct.unpack(f"{end}H", b[ifd : ifd + 2])
    if ifd + 2 + 12 * n_ent > len(b):
        raise ValueError("TIFF IFD truncated")
    tags: dict[int, list[int]] = {}
    for k in range(n_ent):
        off = ifd + 2 + 12 * k
        tag, typ = struct.unpack(f"{end}HH", b[off : off + 4])
        (cnt,) = struct.unpack(f"{end}I", b[off + 4 : off + 8])
        sz = _TIFF_TYPE_SIZE.get(typ)
        if sz is None or cnt > len(b):
            continue
        total = sz * cnt
        if total <= 4:
            raw = b[off + 8 : off + 8 + total]
        else:
            (voff,) = struct.unpack(f"{end}I", b[off + 8 : off + 12])
            raw = b[voff : voff + total]
            if len(raw) < total:
                raise ValueError("TIFF tag value out of range")
        if typ == 1:
            tags[tag] = list(raw)
        elif typ == 3:
            tags[tag] = list(struct.unpack(f"{end}{cnt}H", raw))
        else:
            tags[tag] = list(struct.unpack(f"{end}{cnt}I", raw))
    return tags


def decode_tiff(b: bytes):
    """Uncompressed baseline TIFF → HxWxC uint8 pixels (C=1 gray/bilevel,
    C=3 RGB). Bilevel maps to 0/255 with the photometric polarity applied
    (PhotometricInterpretation 0 = WhiteIsZero inverts, TIFF 6.0 §4);
    8-bit grayscale likewise. Raises ValueError on non-baseline profiles
    (compressed, planar, deep) — decode stays a total function upstream."""
    import struct

    import numpy as np

    if len(b) < 8 or b[:4] not in (b"II*\x00", b"MM\x00*"):
        raise ValueError("not a TIFF stream")
    end = "<" if b[:2] == b"II" else ">"
    tags = _tiff_tags(b, end)
    try:
        w, h = tags[256][0], tags[257][0]
        offsets = tags[273]
    except KeyError as e:
        raise ValueError(f"TIFF missing required tag {e}") from None
    if not (0 < w <= 1 << 20 and 0 < h <= 1 << 20):
        raise ValueError("TIFF dims out of range")
    comp = tags.get(259, [1])[0]
    if comp != 1:
        raise ValueError(f"unsupported TIFF compression {comp} (baseline=1 only)")
    if tags.get(284, [1])[0] != 1:
        raise ValueError("unsupported TIFF planar configuration")
    photo = tags.get(262, [1])[0]
    spp = tags.get(277, [1])[0]
    bps = tags.get(258, [1] * spp)
    rps = tags.get(278, [h])[0] or h
    counts = tags.get(279)
    if counts is not None and len(counts) != len(offsets):
        raise ValueError("TIFF StripOffsets/StripByteCounts length mismatch")
    n_strips = -(-h // rps)
    if len(offsets) < n_strips:
        raise ValueError("TIFF strip table shorter than image height needs")
    bilevel = spp == 1 and bps == [1]
    if bilevel:
        row_bytes = (w + 7) // 8
    elif all(x == 8 for x in bps) and spp in (1, 3):
        row_bytes = w * spp
    else:
        raise ValueError(f"unsupported TIFF sample layout bps={bps} spp={spp}")
    # assemble strips: strip i covers rows [i*rps, min((i+1)*rps, h))
    data = bytearray()
    for i in range(n_strips):
        rows_here = min(rps, h - i * rps)
        need = rows_here * row_bytes
        o = offsets[i]
        c = counts[i] if counts is not None else need
        if c < need or o + need > len(b):
            raise ValueError("TIFF strip data truncated")
        data += b[o : o + need]
    raw = np.frombuffer(bytes(data), np.uint8)
    if bilevel:
        bits = np.unpackbits(raw.reshape(h, row_bytes), axis=1)[:, :w]
        if photo == 0:  # WhiteIsZero
            bits = 1 - bits
        return (bits * np.uint8(255)).astype(np.uint8)[:, :, None]
    arr = raw.reshape(h, w, spp)
    if photo == 0 and spp == 1:
        arr = 255 - arr
    return np.ascontiguousarray(arr)


def encode_tiff(arr, endian: str = "II", rows_per_strip: int | None = None,
                bilevel: bool = False, photometric: int | None = None) -> bytes:
    """HxW / HxWx1 (gray) / HxWx3 (RGB) uint8 → baseline uncompressed
    TIFF. ``bilevel=True`` packs a 0/255 (or 0/1) single-channel image to
    1 bit/sample. Writes multiple strips (default ~3) and supports both
    byte orders, so round-trips exercise the whole decode path."""
    import struct

    import numpy as np

    end = "<" if endian == "II" else ">"
    a = np.asarray(arr, np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, spp = a.shape
    if spp not in (1, 3):
        raise ValueError("encode_tiff: 1 or 3 channels only")
    if bilevel and spp != 1:
        raise ValueError("encode_tiff: bilevel needs a single channel")
    photo = photometric if photometric is not None else (2 if spp == 3 else 1)
    if bilevel:
        # honor the polarity: WhiteIsZero (photo=0) stores 1 for BLACK
        # pixels, so the file decodes back to the input either way
        bit = a[:, :, 0] == 0 if photo == 0 else a[:, :, 0] > 0
        strips_raw = np.packbits(bit, axis=1)  # pads rows to bytes
        bps = [1]
    else:
        samples = (255 - a) if (photo == 0 and spp == 1) else a
        strips_raw = samples.reshape(h, w * spp)
        bps = [8] * spp
    rps = rows_per_strip or max(1, -(-h // 3))
    strips = [strips_raw[i : i + rps].tobytes() for i in range(0, h, rps)]
    offsets, pos = [], 8
    for s in strips:
        offsets.append(pos)
        pos += len(s)
    counts = [len(s) for s in strips]

    aux = bytearray()  # out-of-line tag values, placed after the strips
    entries: list[bytes] = []

    def entry(tag: int, typ: int, vals: list[int]) -> None:
        cnt = len(vals)
        fmt = {3: "H", 4: "I"}[typ]
        total = _TIFF_TYPE_SIZE[typ] * cnt
        packed = struct.pack(f"{end}{cnt}{fmt}", *vals)
        if total <= 4:
            entries.append(
                struct.pack(f"{end}HHI", tag, typ, cnt) + packed.ljust(4, b"\x00")
            )
        else:
            entries.append(
                struct.pack(f"{end}HHII", tag, typ, cnt, pos + len(aux))
            )
            aux.extend(packed)

    entry(256, 4, [w])
    entry(257, 4, [h])
    entry(258, 3, bps)
    entry(259, 3, [1])
    entry(262, 3, [photo])
    entry(273, 4, offsets)
    entry(277, 3, [spp])
    entry(278, 4, [rps])
    entry(279, 4, counts)
    ifd_off = pos + len(aux)
    ifd = (
        struct.pack(f"{end}H", len(entries))
        + b"".join(entries)
        + struct.pack(f"{end}I", 0)
    )
    magic = b"II*\x00" if endian == "II" else b"MM\x00*"
    return (
        magic
        + struct.pack(f"{end}I", ifd_off)
        + b"".join(strips)
        + bytes(aux)
        + ifd
    )


def decode_pixels(b: bytes):
    """(format, HxWxC uint8 array) for any container with a real stdlib
    pixel codec here (png/bmp/gif/tiff, jpeg both baseline and progressive
    — see datapipe.jpeg); (format, None) when only the header is parseable
    (arithmetic/lossless JPEG profiles, compressed TIFF); (None, None) for
    unknown bytes. Raises DECODE_ERRORS members on corrupt payloads —
    callers catch and degrade."""
    fmt, _, _ = parse_image_header(b)
    if fmt == "png":
        return fmt, decode_png(b)
    if fmt == "bmp":
        return fmt, decode_bmp(b)
    if fmt == "gif":
        return fmt, decode_gif(b)
    if fmt == "tiff":
        # non-baseline profiles raise like exotic JPEGs do: decode_image
        # catches DECODE_ERRORS and degrades to the header-only row
        return fmt, decode_tiff(b)
    if fmt == "jpeg":
        from engine_spark.datapipe.jpeg import decode_jpeg

        return fmt, decode_jpeg(b)
    return fmt, None


DECODE_IMAGE_SCHEMA = (
    "doc_id long, format string, width int, height int, channels int, "
    "pix_sum long"
)


def decode_image(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """REAL full pixel decode for PNG / BMP / GIF / baseline-JPEG payloads
    → (format, true pixel width/height, channel count, sum of all decoded
    pixel values) via Arrow-batched mapInPandas, entirely stdlib-side
    (decode_png / decode_bmp / decode_gif / datapipe.jpeg.decode_jpeg).
    Exotic profiles (arithmetic-coded or lossless JPEG) report their
    header format with NULL pixel fields, keeping decode a per-row total
    function."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, p in zip(pdf["doc_id"], pdf[payload_col]):
                b = b"" if p is None else bytes(p)
                fmt = None
                try:
                    fmt, arr = decode_pixels(b)
                except DECODE_ERRORS:
                    arr = None  # corrupt payload → metadata-only row
                    if fmt is None:
                        fmt, _, _ = parse_image_header(b)
                if arr is not None:
                    rows.append(
                        (
                            int(did),
                            fmt,
                            arr.shape[1],
                            arr.shape[0],
                            arr.shape[2],
                            int(arr.sum(dtype="int64")),
                        )
                    )
                    continue
                rows.append((int(did), fmt, None, None, None, None))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "format", "width", "height", "channels",
                         "pix_sum"],
            )

    return df.mapInPandas(run, schema=DECODE_IMAGE_SCHEMA)


RESIZE_SCHEMA = (
    "doc_id long, width int, height int, scale_x double, scale_y double, "
    "payload binary"
)


def resize_image(
    df: DataFrame, width: int, height: int, payload_col: str = "payload"
) -> DataFrame:
    """Image resize: (doc_id, payload) → target dims + scale factors +
    resized payload, Arrow-batched mapInPandas (map-only; payload bytes
    never shuffle).

    PNG / BMP / GIF / baseline-JPEG payloads take the REAL pixel path —
    stdlib decode (decode_pixels; JPEG via datapipe.jpeg's Huffman+IDCT),
    vectorized numpy bilinear resample, stdlib PNG re-encode — so the
    output payload is a genuine PNG whose header parses to (width,
    height) and whose pixels are the resampled source (output is
    normalized to PNG regardless of input container, the standard
    pipeline move; GIF re-palettization and JPEG re-encode-lossy are out
    of scope for the output side). Undecodable payloads degrade honestly:
    if the header still parses (corrupt body, exotic profile) the row
    keeps its exact scale factors and the payload passes through
    untouched; fully unrecognized containers get NULL scale factors and
    passthrough — no fabricated dims anywhere on this path.
    """
    if width < 1 or height < 1:
        raise ValueError("resize target dimensions must be >= 1")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out_rows = []
        for pdf in batches:
            for did, p in zip(pdf["doc_id"], pdf[payload_col]):
                b = b"" if p is None else bytes(p)
                fmt, sw, sh = parse_image_header(b)
                if fmt in ("png", "bmp", "gif", "jpeg"):
                    try:
                        _, arr = decode_pixels(b)
                        if arr is not None and arr.shape[2] == 4 and fmt != "png":
                            arr = arr[:, :, :3]  # RGBA BMP → RGB for PNG out
                        out = encode_png(bilinear_resize(arr, width, height))
                        out_rows.append(
                            (int(did), width, height, width / arr.shape[1],
                             height / arr.shape[0], out)
                        )
                        continue
                    except DECODE_ERRORS:
                        pass  # exotic/corrupt payload → stand-in path below
                if sw is None or sh is None or not sw or not sh:
                    # unrecognized container: honest degradation — no
                    # fabricated source dims, payload passes through
                    # untouched (NULL scale factors mark the row)
                    out_rows.append(
                        (int(did), width, height, None, None, b)
                    )
                    continue
                # header dims parsed but pixels undecodable (corrupt
                # body, exotic profile): exact scale factors from the
                # real header, payload passthrough
                out_rows.append(
                    (int(did), width, height, width / sw, height / sh, b)
                )
            if out_rows:
                yield pd.DataFrame(
                    out_rows,
                    columns=["doc_id", "width", "height", "scale_x",
                             "scale_y", "payload"],
                )
                out_rows = []

    return df.mapInPandas(run, schema=RESIZE_SCHEMA)


# ---------------------------------------------------------------------------
# REAL stdlib MP4/ISO-BMFF demuxer (public ISO/IEC 14496-12 box structure):
# walk moov → trak → mdia → minf → stbl and read the sample tables —
# stts (decode timestamps/durations), stsz (sample sizes), stsc
# (sample→chunk mapping), stco/co64 (chunk offsets) — exactly the byte
# ranges a frame decoder would be handed. Sampled-frame PIXEL decode is
# real for MJPEG (jpeg.py) and H.264 I/IDR, P and B samples (h264.py);
# only refused B tools (direct/skip, partitions) degrade to NULL.
# ---------------------------------------------------------------------------


def _mp4_boxes(b: bytes, start: int, end: int):
    """Yield (fourcc, body_start, body_end) for each box in [start, end)."""
    import struct

    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", b[pos : pos + 4])
        typ = b[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:  # 64-bit largesize
            if pos + 16 > end:
                raise ValueError("truncated MP4 largesize box")
            (size,) = struct.unpack(">Q", b[pos + 8 : pos + 16])
            hdr = 16
        elif size == 0:  # box extends to end of enclosing scope
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError("bad MP4 box size")
        yield typ, pos + hdr, pos + size
        pos += size


def _mp4_child(b: bytes, start: int, end: int, fourcc: bytes):
    for typ, s, e in _mp4_boxes(b, start, end):
        if typ == fourcc:
            return s, e
    return None


def parse_mp4(b: bytes) -> dict:
    """MP4 bytes → dict(n_frames, timescale, offsets, sizes, times) for the
    first VIDEO track (hdlr handler 'vide'). offsets/sizes are absolute
    per-sample byte positions derived from stsc x stco x stsz; times are
    decode timestamps in timescale units from stts."""
    import struct

    if len(b) < 12:
        raise ValueError("not an MP4")
    top = list(_mp4_boxes(b, 0, len(b)))
    if not any(t in (b"ftyp", b"moov") for t, _, _ in top):
        raise ValueError("not an MP4 (no ftyp/moov)")
    moov = next(((s, e) for t, s, e in top if t == b"moov"), None)
    if moov is None:
        raise ValueError("MP4 without moov")
    for typ, ts, te in _mp4_boxes(b, *moov):
        if typ != b"trak":
            continue
        mdia = _mp4_child(b, ts, te, b"mdia")
        if mdia is None:
            continue
        hdlr = _mp4_child(b, *mdia, b"hdlr")
        if hdlr is None or b[hdlr[0] + 8 : hdlr[0] + 12] != b"vide":
            continue
        mdhd = _mp4_child(b, *mdia, b"mdhd")
        timescale = 0
        if mdhd is not None:
            ver = b[mdhd[0]]
            off = mdhd[0] + (20 if ver == 1 else 12)
            (timescale,) = struct.unpack(">I", b[off : off + 4])
        minf = _mp4_child(b, *mdia, b"minf")
        stbl = _mp4_child(b, *minf, b"stbl") if minf else None
        if stbl is None:
            continue

        def body(fourcc: bytes) -> tuple[int, int]:
            c = _mp4_child(b, *stbl, fourcc)
            if c is None:
                raise ValueError(f"MP4 stbl missing {fourcc.decode()}")
            return c

        codec = None
        avcc = None
        stsd = _mp4_child(b, *stbl, b"stsd")
        if stsd is not None:
            (n_sd,) = struct.unpack(">I", b[stsd[0] + 4 : stsd[0] + 8])
            if n_sd >= 1 and stsd[0] + 16 <= stsd[1]:
                codec = b[stsd[0] + 12 : stsd[0] + 16].decode(
                    "ascii", "replace"
                )
                # VisualSampleEntry extensions (avcC for avc1) start after
                # the fixed 86-byte entry body
                (entry_sz,) = struct.unpack(
                    ">I", b[stsd[0] + 8 : stsd[0] + 12]
                )
                ext_start = stsd[0] + 8 + 86
                ext_end = min(stsd[0] + 8 + entry_sz, stsd[1])
                if ext_start < ext_end:
                    hit = _mp4_child(b, ext_start, ext_end, b"avcC")
                    if hit is not None:
                        avcc = b[hit[0] : hit[1]]
        # stts → per-sample decode times/durations
        s, _ = body(b"stts")
        (n_ent,) = struct.unpack(">I", b[s + 4 : s + 8])
        times, t = [], 0
        for i in range(n_ent):
            cnt, delta = struct.unpack(">II", b[s + 8 + 8 * i : s + 16 + 8 * i])
            for _ in range(cnt):
                times.append(t)
                t += delta
        n = len(times)
        # stsz → per-sample sizes
        s, _ = body(b"stsz")
        uniform, n_sz = struct.unpack(">II", b[s + 4 : s + 12])
        if uniform:
            sizes = [uniform] * n_sz
        else:
            sizes = list(
                struct.unpack(f">{n_sz}I", b[s + 12 : s + 12 + 4 * n_sz])
            )
        if n_sz != n:
            raise ValueError("MP4 stts/stsz sample count mismatch")
        # stco/co64 → chunk offsets
        co = _mp4_child(b, *stbl, b"stco")
        if co is not None:
            s = co[0]
            (n_ch,) = struct.unpack(">I", b[s + 4 : s + 8])
            chunk_offs = list(
                struct.unpack(f">{n_ch}I", b[s + 8 : s + 8 + 4 * n_ch])
            )
        else:
            s, _ = body(b"co64")
            (n_ch,) = struct.unpack(">I", b[s + 4 : s + 8])
            chunk_offs = list(
                struct.unpack(f">{n_ch}Q", b[s + 8 : s + 8 + 8 * n_ch])
            )
        # stsc → samples per chunk, run-length encoded over chunk runs
        s, _ = body(b"stsc")
        (n_ent,) = struct.unpack(">I", b[s + 4 : s + 8])
        runs = [
            struct.unpack(">III", b[s + 8 + 12 * i : s + 20 + 12 * i])
            for i in range(n_ent)
        ]
        offsets, si = [], 0
        for ci in range(len(chunk_offs)):
            spc = 0
            for first, cnt, _desc in runs:
                if first <= ci + 1:
                    spc = cnt
                else:
                    break
            pos = chunk_offs[ci]
            for _ in range(spc):
                if si >= n:
                    break
                offsets.append(pos)
                pos += sizes[si]
                si += 1
        if si != n:
            raise ValueError("MP4 stsc/stco cover fewer samples than stsz")
        return {
            "n_frames": n,
            "timescale": timescale,
            "offsets": offsets,
            "sizes": sizes,
            "times": times,
            "codec": codec,
            "avcc": avcc,
        }
    raise ValueError("MP4 without a video track")


def parse_y4m(b: bytes) -> dict:
    """YUV4MPEG2 (.y4m) bytes → dict(width, height, fps_num, fps_den,
    colorspace, color_range, n_frames, offsets, sizes).

    Y4M is THE interchange format for raw video (mjpegtools/ffmpeg):
    an ASCII stream header ``YUV4MPEG2 W.. H.. F<num>:<den> .. C<cs>``
    then per frame an ASCII ``FRAME...`` line followed by raw planar
    YCbCr samples. offsets/sizes address each frame's raw plane DATA
    (past its FRAME line) — the exact slice a pixel decoder consumes.
    Supported colorspaces: 444 (three full planes), 420 family
    (C420/C420jpeg/C420mpeg2/C420paldv: half-resolution chroma), mono
    (luma only). ``XCOLORRANGE=LIMITED`` is honored by the frame decoder
    (BT.601 limited-range expansion); default is full range.
    """
    if not b.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    nl = b.find(b"\n")
    if nl < 0:
        raise ValueError("truncated Y4M stream header")
    width = height = None
    fps_num, fps_den = 30, 1
    cs, crange = "420", "FULL"
    for tok in b[9:nl].split():
        t = tok.decode("ascii", "replace")
        if t[0] == "W":
            width = int(t[1:])
        elif t[0] == "H":
            height = int(t[1:])
        elif t[0] == "F":
            num, den = t[1:].split(":")
            fps_num, fps_den = int(num), int(den)
        elif t[0] == "C":
            cs = t[1:]
        elif t.startswith("XCOLORRANGE="):
            crange = t.split("=", 1)[1]
    if not width or not height:
        raise ValueError("Y4M header missing W/H")
    if fps_num <= 0 or fps_den <= 0:
        # F0:0 is the mjpegtools convention for UNKNOWN frame rate — the
        # pixels are fine, only timestamps are undefined. Keep decoding;
        # consumers see fps_num=0 and emit NULL timestamps.
        fps_num, fps_den = 0, 0
    if cs.startswith("420"):
        fsize = width * height + 2 * ((width + 1) // 2) * ((height + 1) // 2)
    elif cs.startswith("444"):
        fsize = width * height * 3
    elif cs.startswith("422"):
        fsize = width * height + 2 * ((width + 1) // 2) * height
    elif cs.startswith("mono"):
        fsize = width * height
    else:
        raise ValueError(f"unsupported Y4M colorspace {cs}")
    offsets, sizes = [], []
    pos = nl + 1
    n = len(b)
    while pos < n:
        if b[pos : pos + 5] != b"FRAME":
            raise ValueError("bad Y4M FRAME marker")
        fnl = b.find(b"\n", pos)
        if fnl < 0 or fnl + 1 + fsize > n:
            raise ValueError("truncated Y4M frame")
        offsets.append(fnl + 1)
        sizes.append(fsize)
        pos = fnl + 1 + fsize
    return {
        "width": width,
        "height": height,
        "fps_num": fps_num,
        "fps_den": fps_den,
        "colorspace": cs,
        "color_range": crange,
        "n_frames": len(offsets),
        "offsets": offsets,
        "sizes": sizes,
    }


def decode_y4m_frame(b: bytes, meta: dict, frame_idx: int):
    """One Y4M frame → HxWx3 RGB uint8 (HxWx1 for mono): plane split,
    2x chroma replication for 420/422, BT.601 YCbCr→RGB (full range, or
    limited-range expansion when the header declares XCOLORRANGE=LIMITED
    — same matrix as the JPEG decoder's)."""
    import numpy as np

    w, h, cs = meta["width"], meta["height"], meta["colorspace"]
    o = meta["offsets"][frame_idx]
    raw = np.frombuffer(b, np.uint8, count=meta["sizes"][frame_idx], offset=o)
    y = raw[: w * h].reshape(h, w).astype(np.float64)
    limited = meta.get("color_range") == "LIMITED"
    if cs.startswith("mono"):
        if limited:
            y = (y - 16.0) * (255.0 / 219.0)
        return np.clip(np.rint(y), 0, 255).astype(np.uint8)[:, :, None]
    cw, ch_ = ((w + 1) // 2, (h + 1) // 2) if cs.startswith("420") else (
        ((w + 1) // 2, h) if cs.startswith("422") else (w, h)
    )
    cb = raw[w * h : w * h + cw * ch_].reshape(ch_, cw).astype(np.float64)
    cr = raw[w * h + cw * ch_ :].reshape(ch_, cw).astype(np.float64)
    if cw != w or ch_ != h:  # chroma replication upsample, crop to luma grid
        cb = np.repeat(np.repeat(cb, (h + ch_ - 1) // ch_, 0), 2, 1)[:h, :w]
        cr = np.repeat(np.repeat(cr, (h + ch_ - 1) // ch_, 0), 2, 1)[:h, :w]
    if limited:
        y = (y - 16.0) * (255.0 / 219.0)
        cb = (cb - 128.0) * (255.0 / 224.0) + 128.0
        cr = (cr - 128.0) * (255.0 / 224.0) + 128.0
    cbf, crf = cb - 128.0, cr - 128.0
    rgb = np.stack(
        [
            y + 1.402 * crf,
            y - 0.344136 * cbf - 0.714136 * crf,
            y + 1.772 * cbf,
        ],
        axis=-1,
    )
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


def encode_y4m(frames, fps: tuple[int, int] = (30, 1)) -> bytes:
    """List of HxWx3 RGB uint8 arrays → C444 full-range Y4M bytes (the
    lossless-roundtrip colorspace; BT.601 forward matrix, the JPEG
    encoder's)."""
    import numpy as np

    if not frames:
        raise ValueError("encode_y4m needs at least one frame")
    h, w = frames[0].shape[:2]
    out = bytearray(
        f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 C444\n".encode()
    )
    for fr in frames:
        rf = np.asarray(fr, np.float64)
        yp = 0.299 * rf[:, :, 0] + 0.587 * rf[:, :, 1] + 0.114 * rf[:, :, 2]
        cb = (
            -0.168736 * rf[:, :, 0]
            - 0.331264 * rf[:, :, 1]
            + 0.5 * rf[:, :, 2]
            + 128
        )
        cr = (
            0.5 * rf[:, :, 0]
            - 0.418688 * rf[:, :, 1]
            - 0.081312 * rf[:, :, 2]
            + 128
        )
        out += b"FRAME\n"
        for plane in (yp, cb, cr):
            out += np.clip(np.rint(plane), 0, 255).astype(np.uint8).tobytes()
    return bytes(out)


def encode_mp4(frames: list[bytes], timescale: int = 600,
               frame_duration: int = 25, codec: bytes = b"jpeg",
               width: int = 0, height: int = 0,
               sample_entry_ext: bytes = b"") -> bytes:
    """List of per-frame byte strings → minimal but structurally genuine
    MP4: ftyp + mdat holding the concatenated frames + moov/trak/mdia/
    mdhd/hdlr/minf/stbl with real stsd/stts/stsz/stsc/stco tables (two
    samples per chunk, so the stsc expansion is non-trivial) and a
    spec-complete 84-byte v0 tkhd (identity matrix + 16.16 track
    ``width``/``height``, 0 when the caller doesn't know them). Any
    conformant demuxer recovers the exact frame byte ranges. ``codec`` is
    the stsd sample-entry fourcc — b"jpeg" declares Motion-JPEG samples
    (each frame is a complete JFIF image, QuickTime/ISO convention).
    ``sample_entry_ext`` appends raw child boxes to the VisualSampleEntry —
    e.g. an avcC box (h264.build_avcc) for ``codec=b"avc1"`` samples of
    length-prefixed NAL units."""
    import struct

    def box(typ: bytes, *payload: bytes) -> bytes:
        data = b"".join(payload)
        return struct.pack(">I", len(data) + 8) + typ + data

    n = len(frames)
    ftyp = box(b"ftyp", b"isom", struct.pack(">I", 0), b"isom")
    mdat_payload = b"".join(frames)
    # sample offsets are absolute: ftyp + mdat header precede the payload
    base = len(ftyp) + 8
    sizes = [len(f) for f in frames]
    # two samples per chunk; last chunk holds the remainder
    spc = 2
    chunk_offs, pos, i = [], base, 0
    while i < n:
        chunk_offs.append(pos)
        for j in range(i, min(i + spc, n)):
            pos += sizes[j]
        i += spc
    stts = box(
        b"stts", struct.pack(">II", 0, 1), struct.pack(">II", n, frame_duration)
    )
    stsz = box(
        b"stsz", struct.pack(">III", 0, 0, n), struct.pack(f">{n}I", *sizes)
    )
    if n % spc and len(chunk_offs) > 1:
        stsc_entries = struct.pack(">III", 1, spc, 1) + struct.pack(
            ">III", len(chunk_offs), n % spc, 1
        )
        stsc = box(b"stsc", struct.pack(">II", 0, 2), stsc_entries)
    else:  # single (possibly short) chunk, or all chunks full
        stsc = box(
            b"stsc",
            struct.pack(">II", 0, 1),
            struct.pack(">III", 1, min(spc, n) if n else spc, 1),
        )
    stco = box(
        b"stco",
        struct.pack(">II", 0, len(chunk_offs)),
        struct.pack(f">{len(chunk_offs)}I", *chunk_offs),
    )
    # stsd: one VisualSampleEntry with the codec fourcc (86-byte body per
    # ISO 14496-12 §12.1.3; width/height left 0 — frames carry their own),
    # plus any extension boxes (avcC for avc1)
    sample_entry = (
        struct.pack(">I", 86 + len(sample_entry_ext)) + codec + b"\x00" * 6
        + struct.pack(">H", 1) + b"\x00" * 70 + sample_entry_ext
    )
    stsd = box(b"stsd", struct.pack(">II", 0, 1), sample_entry)
    stbl = box(b"stbl", stsd, stts, stsc, stsz, stco)
    minf = box(b"minf", stbl)
    hdlr = box(
        b"hdlr", struct.pack(">II", 0, 0), b"vide", b"\x00" * 12, b"demo\x00"
    )
    mdhd = box(
        b"mdhd",
        struct.pack(">IIIII", 0, 0, 0, timescale, n * frame_duration),
        struct.pack(">HH", 0x55C4, 0),
    )
    mdia = box(b"mdia", mdhd, hdlr, minf)
    # tkhd v0 body is exactly 84 bytes (ISO 14496-12 §8.3.2): flags,
    # ctime, mtime, track_id, reserved, duration, reserved[8], layer/
    # alt_group/volume/reserved, 9x32 identity matrix, 16.16 width/height
    # — strict demuxers (ffprobe/mp4box) reject a truncated track header
    tkhd = box(
        b"tkhd",
        struct.pack(">IIIII", 0x7, 0, 0, 1, 0),
        struct.pack(">I", n * frame_duration),  # duration (mvhd timescale)
        b"\x00" * 8,
        struct.pack(">HHHH", 0, 0, 0, 0),
        struct.pack(
            ">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000
        ),
        struct.pack(">II", width << 16, height << 16),
    )
    trak = box(b"trak", tkhd, mdia)
    mvhd = box(
        b"mvhd",
        struct.pack(">IIIII", 0, 0, 0, timescale, n * frame_duration),
        b"\x00" * 80,
    )
    moov = box(b"moov", mvhd, trak)
    return ftyp + box(b"mdat", mdat_payload) + moov


FRAME_SAMPLE_SCHEMA = (
    "doc_id long, frame_idx int, n_frames int, byte_start long, byte_end long"
)


def frame_sample(
    df: DataFrame, every_k: int, payload_col: str = "payload"
) -> DataFrame:
    """Frame sampling: (doc_id, payload) → one row per sampled frame index
    (every ``every_k``-th), with the byte range a decoder would be handed.

    MP4 payloads are demuxed FOR REAL: parse_mp4 walks the ISO-BMFF sample
    tables (stts/stsz/stsc/stco) and the emitted ranges are each frame's
    actual absolute byte extent inside mdat; Y4M likewise. A recognized
    single-image container (parse_image_header: PNG/GIF/BMP/JPEG/TIFF) is
    one frame spanning the whole payload — the real extent a still-image
    decoder would be handed. Anything else degrades to ONE row with NULL
    frame fields (decode_meta's honest-NULL convention — no fabricated
    frame counts), keeping the pipeline total over a mixed corpus.
    Map-only; payloads never shuffle.
    """
    if every_k < 1:
        raise ValueError("every_k must be >= 1")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, p in zip(pdf["doc_id"], pdf[payload_col]):
                b = b"" if p is None else bytes(p)
                demux = None
                for parser in (parse_mp4, parse_y4m):
                    try:
                        demux = parser(b)
                        break
                    except DECODE_ERRORS:
                        pass
                if demux is not None:
                    n_frames = demux["n_frames"]
                    for fi in range(0, n_frames, every_k):
                        rows.append(
                            (
                                int(did),
                                fi,
                                n_frames,
                                demux["offsets"][fi],
                                demux["offsets"][fi] + demux["sizes"][fi],
                            )
                        )
                    continue
                fmt, _, _ = parse_image_header(b)
                if fmt is not None:
                    # a still image IS one frame: the whole payload
                    rows.append((int(did), 0, 1, 0, len(b)))
                else:
                    rows.append((int(did), None, None, None, None))
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["doc_id", "frame_idx", "n_frames",
                             "byte_start", "byte_end"],
                )

    return df.mapInPandas(run, schema=FRAME_SAMPLE_SCHEMA)


FRAME_DECODE_SCHEMA = (
    "doc_id long, frame_idx int, n_frames int, ts_s double, width int, "
    "height int, channels int, pix_sum long"
)


def decode_frames(
    df: DataFrame, every_k: int = 10, payload_col: str = "payload"
) -> DataFrame:
    """REAL video frame PIXEL decode for Motion-JPEG MP4s: parse_mp4 walks
    the sample tables (stsd declares the 'jpeg' sample entry — the
    QuickTime/ISO MJPEG convention where every sample is a complete JFIF
    image), every ``every_k``-th frame's bytes are sliced out of mdat and
    decoded with the stdlib baseline JPEG codec; emits the frame's decode
    timestamp (mdhd timescale units → seconds), true dimensions, and pixel
    sum. Raw YUV4MPEG2 (.y4m) payloads also decode fully (plane split +
    chroma upsample + BT.601 → RGB, see decode_y4m_frame). H.264 (avc1)
    samples decode for REAL when they are CAVLC- or (r12) CABAC-coded
    I/IDR frames (the stdlib h264 module: NAL/slice parse, CAVLC or the
    9.3 arithmetic decoder, intra prediction, inverse integer transform,
    in-loop deblocking) OR CAVLC short-GOP P frames (inter prediction
    chained forward from the nearest IDR anchor — multi-reference
    default lists, explicit weighted prediction, quarter-pel 6-tap luma,
    eighth-pel bilinear chroma); B slices, CABAC P slices, reordered
    reference lists and other av-library
    codecs (hev1/vp09) emit rows with NULL pixel fields rather than
    wrong pixels — and a failed frame poisons its GOP's chain so later
    P frames in it are NULL too, until the next IDR. Other payloads emit
    nothing. Map-only; payloads never shuffle, and only the SAMPLED
    frames are decoded (plus, for a sampled P frame, the minimal chain
    from its anchor) — at every_k=10 an all-keyframe stream still pays
    10x less pixel work than full decode, the point of sampling."""
    if every_k < 1:
        raise ValueError("every_k must be >= 1")

    from engine_spark.datapipe import h264
    from engine_spark.datapipe.jpeg import decode_jpeg

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, p in zip(pdf["doc_id"], pdf[payload_col]):
                b = b"" if p is None else bytes(p)
                try:
                    y4m = parse_y4m(b)
                except DECODE_ERRORS:
                    y4m = None
                if y4m is not None:  # raw video: every frame decodes
                    n = y4m["n_frames"]
                    # F0:0 = unknown rate (mjpegtools convention): pixels
                    # decode, timestamps are NULL
                    spf = (
                        y4m["fps_den"] / y4m["fps_num"]
                        if y4m["fps_num"] > 0
                        else None
                    )
                    for fi in range(0, n, every_k):
                        ts = fi * spf if spf is not None else None
                        try:
                            arr = decode_y4m_frame(b, y4m, fi)
                        except DECODE_ERRORS:
                            rows.append(
                                (int(did), fi, n, ts, None, None, None, None)
                            )
                            continue
                        rows.append(
                            (
                                int(did), fi, n, ts,
                                arr.shape[1], arr.shape[0], arr.shape[2],
                                int(arr.sum(dtype="int64")),
                            )
                        )
                    continue
                try:
                    mp4 = parse_mp4(b)
                except DECODE_ERRORS:
                    continue
                n, tsc = mp4["n_frames"], mp4["timescale"]
                mjpeg = mp4["codec"] in ("jpeg", "mjpa", "mjpb")
                avc_cfg = None
                if mp4["codec"] == "avc1" and mp4.get("avcc") is not None:
                    try:
                        avc_cfg = h264.parse_avcc(mp4["avcc"])
                    except DECODE_ERRORS:
                        avc_cfg = None
                kinds: list = []
                if avc_cfg is not None:
                    # classify every sample by its first slice NAL type
                    # (5 = IDR anchor, 1 = non-IDR I or P) — cheap header
                    # peek, no entropy decode. Sampled I/IDR frames decode
                    # standalone exactly as before; a sampled P frame
                    # decodes by chaining forward from the nearest anchor
                    # (or the rolling chain, when a previous sampled frame
                    # already advanced it) — the short-GOP inter path.
                    nls = avc_cfg["nal_length_size"]
                    for fj in range(n):
                        oj, szj = mp4["offsets"][fj], mp4["sizes"][fj]
                        kj = None
                        try:
                            for nal in h264.split_avcc_sample(
                                b[oj : oj + szj], nls
                            ):
                                if nal and (nal[0] & 0x1F) in (1, 5):
                                    kj = nal[0] & 0x1F
                                    break
                        except DECODE_ERRORS:
                            kj = None
                        kinds.append(kj)
                    # pass the FULL by-id parameter-set maps, not
                    # first-of-each: a sample whose slices reference a
                    # non-first pps_id would otherwise degrade to NULL
                    # unnecessarily (ADVICE r10)
                    sps_map, pps_map = h264._seed_param_maps(
                        avc_cfg["sps_by_id"], avc_cfg["pps_by_id"]
                    )
                    # reference chain state: up to 16 past decoded
                    # REFERENCE frames (nal_ref_idc != 0) most-recent-first
                    # (the default P RefPicList0 for an in-order no-gap
                    # stream); prf = PrevRefFrameNum for the 7.4.3
                    # frame_num continuity check — disposable pictures
                    # decode but never enter the list, and a frame_num
                    # gap degrades to NULL instead of wrong pixels
                    chain = {"refs": [], "pos": -1, "prf": None,
                             "poc": {}}

                    def _avc_decode(fi):
                        anchor = next(
                            (j for j in range(fi, -1, -1) if kinds[j] == 5),
                            None,
                        )
                        if (chain["refs"] and chain["pos"] < fi
                                and (anchor is None or chain["pos"] >= anchor)):
                            start = chain["pos"] + 1  # continue the chain
                        elif anchor is not None:
                            start = anchor
                            chain["refs"] = []
                            chain["prf"] = None
                            chain["poc"] = {}
                        else:  # no IDR before fi: standalone (P -> NULL)
                            start = fi
                            chain["refs"] = []
                            chain["prf"] = None
                            chain["poc"] = {}
                        fr = None
                        for j in range(start, fi + 1):
                            if kinds[j] == 5:
                                chain["refs"] = []
                                chain["prf"] = None
                                chain["poc"] = {}
                            oj, szj = mp4["offsets"][j], mp4["sizes"][j]
                            try:
                                fr = h264.decode_access_unit(
                                    h264.split_avcc_sample(
                                        b[oj : oj + szj], nls
                                    ),
                                    sps_map, pps_map, chain["refs"],
                                    chain["poc"],
                                )
                                max_fn = 1 << fr.sps["log2_max_frame_num"]
                                if kinds[j] == 5:
                                    if fr.frame_num != 0:
                                        raise h264.H264Error(
                                            "IDR frame_num != 0")
                                elif chain["prf"] is not None and (
                                    fr.frame_num not in (
                                        chain["prf"],
                                        (chain["prf"] + 1) % max_fn,
                                    )
                                ):
                                    raise h264.H264Error(
                                        "frame_num discontinuity")
                                if fr.is_ref:
                                    chain["refs"] = [
                                        {"y": fr.y, "cb": fr.cb,
                                         "cr": fr.cr, "poc": fr.poc}
                                    ] + chain["refs"][:15]
                                    chain["prf"] = fr.frame_num
                                    if fr.poc is not None:
                                        # 8.2.1.1 wrap state advances on
                                        # reference pictures
                                        chain["poc"]["prev_msb"] = (
                                            fr.poc - fr.poc_lsb)
                                        chain["poc"]["prev_lsb"] = (
                                            fr.poc_lsb)
                            except DECODE_ERRORS:
                                fr = None
                                chain["refs"] = []  # poison until IDR
                                chain["prf"] = None
                                chain["poc"] = {}
                            chain["pos"] = j
                        if fr is None:
                            return None
                        try:
                            return h264._frame_rgb(fr)
                        except DECODE_ERRORS:
                            return None

                for fi in range(0, n, every_k):
                    ts_s = mp4["times"][fi] / tsc if tsc else None
                    base = (int(did), fi, n, ts_s)
                    o, sz = mp4["offsets"][fi], mp4["sizes"][fi]
                    arr = None
                    if mjpeg:
                        try:
                            arr = decode_jpeg(b[o : o + sz])
                        except DECODE_ERRORS:
                            arr = None
                    elif avc_cfg is not None:
                        # real decode for CAVLC/CABAC I/IDR keyframes,
                        # CAVLC short-GOP P frames, and CAVLC B slices
                        # (two-list bi-prediction); CABAC inter and the
                        # refused B tools raise inside and degrade to
                        # the honest NULL row
                        arr = _avc_decode(fi)
                    if arr is not None:
                        rows.append(
                            base
                            + (
                                arr.shape[1],
                                arr.shape[0],
                                arr.shape[2],
                                int(arr.sum(dtype="int64")),
                            )
                        )
                    else:
                        rows.append(base + (None, None, None, None))
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["doc_id", "frame_idx", "n_frames", "ts_s",
                             "width", "height", "channels", "pix_sum"],
                )

    return df.mapInPandas(run, schema=FRAME_DECODE_SCHEMA)


# ---------------------------------------------------------------------------
# REAL stdlib WAV/RIFF PCM audio codec (public RIFF/WAVE spec: 'RIFF' size
# 'WAVE' + 'fmt ' chunk with LE fields + 'data' chunk of raw samples).
# PCM16 decodes to real samples; other encodings report header metadata
# with NULL sample features (their codecs genuinely need an audio library).
# ---------------------------------------------------------------------------


def parse_wav_header(b: bytes) -> dict | None:
    """RIFF/WAVE 'fmt ' + 'data' chunk walk → dict(audio_format, channels,
    sample_rate, bits, data_off, data_len) or None if not a WAV."""
    import struct

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (clen,) = struct.unpack("<I", b[pos + 4 : pos + 8])
        body = b[pos + 8 : pos + 8 + clen]
        if cid == b"fmt " and clen >= 16:
            af, nch, rate, _br, _ba, bits = struct.unpack("<HHIIHH", body[:16])
            fmt = {"audio_format": af, "channels": nch, "sample_rate": rate,
                   "bits": bits}
        elif cid == b"data":
            data = (pos + 8, clen)
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        return None
    fmt["data_off"], fmt["data_len"] = data
    return fmt


def parse_flac_header(b: bytes) -> dict | None:
    """FLAC 'fLaC' + STREAMINFO metadata block → dict(sample_rate,
    channels, bits, total_samples) or None if not a FLAC (public FLAC
    format spec: 16+16 block sizes, 24+24 frame sizes, 20-bit sample
    rate, 3-bit channels-1, 5-bit bits-1, 36-bit total samples)."""
    if len(b) < 4 or b[:4] != b"fLaC":
        return None
    pos = 4
    while pos + 4 <= len(b):
        hdr = b[pos]
        blen = int.from_bytes(b[pos + 1 : pos + 4], "big")
        body = b[pos + 4 : pos + 4 + blen]
        # validate the ACTUAL body length, not the declared one — a
        # truncated payload must return None, never throw (total function)
        if (hdr & 0x7F) == 0 and len(body) >= 18:  # STREAMINFO
            sr = (body[10] << 12) | (body[11] << 4) | (body[12] >> 4)
            channels = ((body[12] >> 1) & 0x7) + 1
            bits = (((body[12] & 0x1) << 4) | (body[13] >> 4)) + 1
            total = ((body[13] & 0x0F) << 32) | int.from_bytes(
                body[14:18], "big"
            )
            return {
                "sample_rate": sr,
                "channels": channels,
                "bits": bits,
                "total_samples": total,
            }
        if hdr & 0x80:  # last metadata block and no STREAMINFO found
            return None
        pos += 4 + blen
    return None


def encode_wav(samples, sample_rate: int = 8000) -> bytes:
    """Mono PCM16 int16 numpy array → WAV bytes (stdlib struct only)."""
    import struct

    import numpy as np

    a = np.asarray(samples, np.int16)
    data = a.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    out = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(out)) + out


AUDIO_SCHEMA = (
    "doc_id long, format string, channels int, sample_rate int, "
    "n_samples long, duration_s double, rms double, zero_crossings long, "
    "peak int"
)


def decode_audio(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """REAL audio decode for WAV/PCM16 payloads → header metadata + sample
    features (RMS energy, zero-crossing count, peak amplitude) computed
    from the ACTUAL samples, vectorized numpy inside Arrow-batched
    mapInPandas. Non-PCM16 WAVs report header fields with NULL features;
    non-WAV payloads are all-NULL rows (per-row total function). Map-only:
    payload bytes never shuffle."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, p in zip(pdf["doc_id"], pdf[payload_col]):
                b = b"" if p is None else bytes(p)
                h = parse_wav_header(b)
                if h is None:
                    rows.append((int(did), None, None, None, None, None,
                                 None, None, None))
                    continue
                base = (int(did), "wav", h["channels"], h["sample_rate"])
                if h["audio_format"] != 1 or h["bits"] != 16:
                    rows.append(base + (None, None, None, None, None))
                    continue
                raw = b[h["data_off"] : h["data_off"] + h["data_len"]]
                a = np.frombuffer(
                    raw[: len(raw) // 2 * 2], "<i2"
                ).astype(np.int64)
                n = len(a) // h["channels"] if h["channels"] else 0
                if len(a) == 0:
                    rows.append(base + (0, 0.0, None, None, None))
                    continue
                dur = n / h["sample_rate"]
                rms = float(np.sqrt((a * a).mean()))
                zc = int(np.count_nonzero(np.signbit(a[:-1]) != np.signbit(a[1:])))
                rows.append(base + (n, dur, rms, zc, int(np.abs(a).max())))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "format", "channels", "sample_rate",
                         "n_samples", "duration_s", "rms", "zero_crossings",
                         "peak"],
            )

    return df.mapInPandas(run, schema=AUDIO_SCHEMA)
