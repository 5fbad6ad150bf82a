"""Multimodal (image/audio/video) column plumbing.

Media travel as opaque `binary` columns with a typed metadata struct —
the lakehouse-standard layout (one row per asset, bytes inline for small
assets or a URI for large ones). Decode / feature-extract / resize /
frame-sample run as Arrow-batched `mapInPandas` stages: the Spark-side
contract (schema, batch iteration, partition sizing) is real and tested.

Codecs: audio (RIFF/WAVE) decodes for real via the stdlib `wave` module
plus a non-PCM RIFF fallback (`wav_decode` — every PCM width
u8/int16/int24/int32 multi-channel mono-mixed, IEEE float32/64, G.711
mu-law/A-law expansions bit-identical to audioop, IMA and MICROSOFT
ADPCM block decodes in MONO AND STEREO, and GSM 06.10 full-rate
RPE-LTP — the complete ETSI decode chain in pure integer arithmetic);
video (RIFF/AVI: DIB frames at 8-bit palettized / 24-bit / 32-bit,
BI_RLE8 + BI_RLE4 run-length, and MJPEG)
decodes for real via a pure-stdlib chunk walker (`avi_decode`),
with compressed formats (mp4/h264, webm) routed through the optional
PyAV seam (`pyav_video_decode`); PNG decodes for real via a pure-stdlib
parser (`png_decode` — chunk walk, zlib inflate, full five-filter
scanline reconstruction, every color type at depths 1/2/4/8/16, ADAM7);
GIF decodes for real via `operators/gif.py` (LZW, interlace,
animation/transparency/disposal compositing); JPEG decodes for real
via `operators/jpeg.py` across ALL THIRTEEN T.81 SOF processes
(baseline, extended sequential incl. 12-bit, progressive, lossless at
2-16 bits, hierarchical Annex J pyramids with every differential
process — Huffman AND arithmetic via the Annex D QM-coder in
`operators/jpeg_arith.py`, libjpeg-cross-validated where an
independent implementation exists), with Pillow as
the optional general-image fallback (`pil_decode`). The remaining
documented NotImplementedError seams are the genuinely library-bound
ones: compressed video without PyAV, mp3-in-WAV, and WebP-class
formats without Pillow (GIF and baseline TIFF decode here in pure
stdlib — operators/gif.py, operators/tiff.py) — every modality's
container plumbing is
exercised by a real codec, not a fake.

Scale notes: binary payloads make wide rows — `maxPartitionBytes` governs
scan parallelism, and mapInPandas keeps peak memory at one Arrow batch per
worker. No shuffle is introduced by any stage here.
"""

from __future__ import annotations

import struct
import wave
import zlib
from collections.abc import Callable, Iterator
from io import BytesIO

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def attach_media_meta(
    df: DataFrame, payload_col: str = "payload", media_type: str = "image/png"
) -> DataFrame:
    """Derive the metadata struct from a binary payload column — native
    expressions only (length/sha2 run JVM-side)."""
    p = F.col(payload_col)
    return df.withColumn(
        "media_meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.length(p).cast("long").alias("n_bytes"),
            F.lower(F.sha2(p, 256)).alias("sha256"),
        ),
    )


def decode_features(
    df: DataFrame,
    decode_fn: Callable[[bytes], list[float]] | None = None,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    feature_dim: int = 8,
    pass_media_type: bool = False,
) -> DataFrame:
    """Decode + feature-extract stage over `mapInPandas`.

    ``decode_fn`` maps raw bytes → feature vector. With None the stage
    raises NotImplementedError where a real codec (PIL/ffmpeg/torchaudio)
    would be invoked — the surrounding plumbing (Arrow batching, schema,
    column pruning) is the part this engine owns and tests.

    With ``pass_media_type=True`` the decode is called as
    ``decode_fn(payload, media_type)`` so a dispatching codec (see
    `dispatch_decode`) can pick its decoder per row; the frame must then
    carry a ``media_type`` column.
    """
    if pass_media_type and "media_type" not in df.columns:
        raise ValueError("pass_media_type=True requires a media_type column")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decode_fn is None:
                raise NotImplementedError(
                    "no media codec available in this environment; supply "
                    "decode_fn (e.g. PIL-based) to decode real payloads"
                )
            if pass_media_type:
                feats = [
                    list(decode_fn(bytes(b), mt))
                    for b, mt in zip(pdf[payload_col], pdf["media_type"])
                ]
            else:
                feats = pdf[payload_col].map(lambda b: list(decode_fn(bytes(b))))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "media_type": pdf.get("media_type", pd.Series(["unknown"] * len(pdf))),
                    "n_bytes": pdf[payload_col].map(len).astype("int64"),
                    "feature": feats,
                }
            )

    cols = [id_col, payload_col] + (["media_type"] if "media_type" in df.columns else [])
    return df.select(*cols).mapInPandas(run, FEATURE_SCHEMA)


def pil_decode(payload: bytes, dim: int = 8) -> list[float]:
    """Real image codec for the `decode_features` seam, used when Pillow
    is importable: decode, downscale to 16x16 grayscale, luminance
    histogram over ``dim`` bins, normalized — same output contract
    (list[float] of length dim) as `fake_decode`."""
    from io import BytesIO

    from PIL import Image  # noqa: F401 — optional dependency

    img = Image.open(BytesIO(payload)).convert("L").resize((16, 16))
    counts = [0] * dim
    for px in img.getdata():
        counts[px * dim // 256] += 1
    total = 16 * 16
    return [c / total for c in counts]


def synth_wav(doc_id: int) -> bytes:
    """Deterministic WAV fixture mix keyed by doc_id % 8 — every PCM
    layout the codec decodes plus IEEE float and G.711: 0/3 = 16-bit
    MONO, 1 = 16-bit STEREO (the decoder must mono-mix, truncating
    toward zero), 2 = unsigned 8-BIT mono (centered at 128), 4 = 24-BIT
    mono (3-byte little-endian two's complement), 5 = 32-BIT mono, 6 =
    FLOAT32 mono (format tag 3), 7 = MU-LAW mono (format tag 7, G.711).
    Non-PCM containers (6/7) are written spec-faithfully with an
    18-byte fmt chunk and a fact chunk, so their header is 58 bytes
    where PCM's is 44. Samples derive from ``doc_id`` by pure integer
    arithmetic — so a SQL oracle can recompute the decoded features
    (selecting the per-variant formula on doc%8) while the Spark path
    must round-trip the actual container.

    n_samples = 400 + doc_id % 257; rate = 8000 + (doc_id % 3) * 4000;
    mono16: sample[t] = (doc_id*7919 + t*104729) % 65536 - 32768
    stereo: L[t] as mono16, R[t] = (doc_id*104729 + t*7919) % 65536 - 32768
    u8:     sample[t] = (doc_id*7919 + t*104729) % 256 - 128
    s24:    sample[t] = (doc_id*7919 + t*104729) % 2^24 - 2^23
    s32:    sample[t] = (doc_id*7919 + t*104729) % 2^32 - 2^31
    f32:    sample[t] = mono16[t] / 32768.0 (a 16-bit integer over 2^15
            is exactly representable in float32, so features stay
            bit-stable across engines)
    ulaw:   byte[t] = (doc_id*7919 + t*104729) % 256, decoded by the
            G.711 segmented expansion (`ulaw_to_linear`).
    """
    doc_id = int(doc_id)
    n = 400 + doc_id % 257
    rate = 8000 + (doc_id % 3) * 4000
    variant = doc_id % 8

    def nonpcm(tag: int, width: int, data: bytes) -> bytes:
        fmt = struct.pack("<HHIIHHH", tag, 1, rate, rate * width, width, 8 * width, 0)
        return _riff_nonpcm(fmt, n, data)

    if variant == 6:  # IEEE float32: stdlib wave is PCM-only, hand-build
        return nonpcm(3, 4, struct.pack(
            f"<{n}f",
            *((((doc_id * 7919 + t * 104729) % 65536) - 32768) / 32768.0
              for t in range(n)),
        ))
    if variant == 7:  # G.711 mu-law (format tag 7)
        return nonpcm(
            7, 1, bytes((doc_id * 7919 + t * 104729) % 256 for t in range(n))
        )
    buf = BytesIO()
    with wave.open(buf, "wb") as w:
        w.setframerate(rate)
        if variant == 2:  # unsigned 8-bit mono
            w.setnchannels(1)
            w.setsampwidth(1)
            w.writeframes(bytes((doc_id * 7919 + t * 104729) % 256 for t in range(n)))
        elif variant == 1:  # 16-bit stereo
            w.setnchannels(2)
            w.setsampwidth(2)
            inter = []
            for t in range(n):
                inter.append(((doc_id * 7919 + t * 104729) % 65536) - 32768)
                inter.append(((doc_id * 104729 + t * 7919) % 65536) - 32768)
            w.writeframes(struct.pack(f"<{2 * n}h", *inter))
        elif variant == 4:  # 24-bit mono, 3-byte little-endian
            w.setnchannels(1)
            w.setsampwidth(3)
            # two's complement of sample = (x % 2^24) - 2^23 is
            # (x + 2^23) % 2^24 stored as unsigned
            w.writeframes(
                b"".join(
                    ((doc_id * 7919 + t * 104729 + 8388608) % 16777216).to_bytes(
                        3, "little"
                    )
                    for t in range(n)
                )
            )
        elif variant == 5:  # 32-bit mono
            w.setnchannels(1)
            w.setsampwidth(4)
            samples = [
                ((doc_id * 7919 + t * 104729) % 4294967296) - 2147483648
                for t in range(n)
            ]
            w.writeframes(struct.pack(f"<{n}i", *samples))
        else:  # 16-bit mono
            w.setnchannels(1)
            w.setsampwidth(2)
            samples = [((doc_id * 7919 + t * 104729) % 65536) - 32768 for t in range(n)]
            w.writeframes(struct.pack(f"<{n}h", *samples))
    return buf.getvalue()


def _riff_nonpcm(fmt: bytes, n_samples: int, data: bytes) -> bytes:
    """Frame a non-PCM WAV: RIFF/WAVE + the given fmt chunk + the
    spec-recommended fact chunk (sample count) + data. Shared by every
    non-PCM synth (float, G.711, ADPCM)."""
    fact = struct.pack("<I", n_samples)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", len(fact)) + fact
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def ulaw_to_linear(b: int) -> int:
    """G.711 mu-law byte -> linear 16-bit sample (the standard segmented
    expansion — identical to CPython audioop's table): complement, split
    sign/exponent/mantissa, rebuild the magnitude with the 0x84 bias."""
    b = ~b & 0xFF
    mag = (((b & 0x0F) << 3) + 0x84) << ((b >> 4) & 7)
    return 0x84 - mag if b & 0x80 else mag - 0x84


def alaw_to_linear(b: int) -> int:
    """G.711 A-law byte -> linear 16-bit sample (even-bit inversion,
    then segmented expansion; segment 0 is linear)."""
    b ^= 0x55
    exp = (b >> 4) & 7
    mant = b & 0x0F
    mag = (mant << 4) + 8 if exp == 0 else ((mant << 4) + 0x108) << (exp - 1)
    return mag if b & 0x80 else -mag  # A-law MSB set = POSITIVE


#: IMA ADPCM step-size table (89 entries) and index-adjust table — the
#: public DVI/IMA tables every implementation shares (RFC 3551 §4.5.1
#: lineage; identical in the WAV tag-0x11 payload spec).
IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8]


def ima_adpcm_step(pred: int, index: int, nib: int) -> tuple[int, int]:
    """One IMA ADPCM decode step: expand one 4-bit code against the
    (predictor, step index) state. Pure integer shifts — the exact
    arithmetic every IMA decoder implements (and a SQL oracle can
    mirror with integer division)."""
    step = IMA_STEPS[index]
    diff = step >> 3
    if nib & 1:
        diff += step >> 2
    if nib & 2:
        diff += step >> 1
    if nib & 4:
        diff += step
    if nib & 8:
        diff = -diff
    pred = max(-32768, min(32767, pred + diff))
    index = max(0, min(88, index + IMA_INDEX[nib]))
    return pred, index


def synth_wav_adpcm(doc_id: int) -> bytes:
    """Deterministic IMA ADPCM (WAV format tag 0x11) fixture: mono, ONE
    block whose 4-byte header carries the initial predictor
    (doc_id*7919) % 65536 - 32768 — which IS the first output sample —
    and initial step index doc_id % 89; the remaining n-1 samples are
    nibbles nib[t] = (doc_id*7 + t*13) % 16 packed two per byte, low
    nibble first. n = 201 + 2*(doc_id % 64) (odd, so the nibble count
    is even and the block is exactly full). The fmt chunk is the
    spec-faithful tag-17 form: 4 bits/sample, block_align = 4 + (n-1)/2,
    cbSize=2 extension carrying samplesPerBlock, plus a fact chunk."""
    doc_id = int(doc_id)
    n = 201 + 2 * (doc_id % 64)
    rate = 8000
    k = (n - 1) // 2
    pred0 = (doc_id * 7919) % 65536 - 32768
    idx0 = doc_id % 89
    data = bytearray(struct.pack("<hBB", pred0, idx0, 0))
    for i in range(k):
        lo = (doc_id * 7 + (2 * i) * 13) % 16
        hi = (doc_id * 7 + (2 * i + 1) * 13) % 16
        data.append(lo | (hi << 4))
    block_align = 4 + k
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, rate, rate * block_align // n, block_align, 4, 2, n
    )
    return _riff_nonpcm(fmt, n, bytes(data))


def synth_wav_adpcm_stereo(doc_id: int) -> bytes:
    """Deterministic STEREO IMA ADPCM fixture (WAV tag 0x11, ch=2): ONE
    block opening with two 4-byte channel headers — channel c's initial
    predictor is (doc_id*7919 + c*104729) % 65536 - 32768 (the first
    output sample of that channel) and its step index
    (doc_id + c*37) % 89 — followed by 4-byte data words ALTERNATING
    channels (the tag-0x11 stereo layout). Channel c's j-th nibble is
    (doc_id*7 + c*3 + j*13) % 16, low nibble first within each byte.
    spb = 129 + 16*(doc_id % 8) samples per channel (spb-1 divisible by
    8, so both channels' nibble streams fill whole words exactly).
    block_align = 8 + (spb-1); the fmt chunk is the spec tag-17 stereo
    form with the cbSize=2 samplesPerBlock extension and a fact chunk."""
    doc_id = int(doc_id)
    spb = 129 + 16 * (doc_id % 8)
    rate = 8000
    data = bytearray()
    for c in range(2):
        pred0 = (doc_id * 7919 + c * 104729) % 65536 - 32768
        idx0 = (doc_id + c * 37) % 89
        data += struct.pack("<hBB", pred0, idx0, 0)
    nwords = (spb - 1) // 8  # per channel
    for wi in range(nwords):
        for c in range(2):
            for b in range(4):
                j0 = wi * 8 + 2 * b
                lo = (doc_id * 7 + c * 3 + j0 * 13) % 16
                hi = (doc_id * 7 + c * 3 + (j0 + 1) * 13) % 16
                data.append(lo | (hi << 4))
    block_align = 8 + (spb - 1)
    assert len(data) == block_align
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 2, rate, rate * block_align // spb, block_align,
        4, 2, spb,
    )
    return _riff_nonpcm(fmt, spb, bytes(data))


def synth_wav_msadpcm_stereo(doc_id: int) -> bytes:
    """Deterministic STEREO Microsoft ADPCM fixture (WAV tag 2, ch=2):
    ONE block whose 14-byte header is FIELD-interleaved — coefficient
    selectors (doc_id + c) % 7 for channel c (so the two channels run
    DIFFERENT predictor pairs), iDeltas 16 + (doc_id*31 + c*97) % 4000,
    seed samples s1 = (doc_id*7919 + c*31) % 65536 - 32768 and
    s2 = (doc_id*104729 + c*59) % 65536 - 32768 — then nibbles
    ALTERNATE channels, HIGH = left: global nibble g (channel g%2,
    per-channel step g//2 + 2) is x when x < 16 else x % 4 with
    x = (doc_id*11 + g*5) % 64, the bounded-growth distribution the
    mono fixture uses. spb = 62 + doc_id % 40 samples per channel;
    block_align = 14 + (spb - 2)."""
    doc_id = int(doc_id)
    spb = 62 + doc_id % 40
    rate = 8000
    data = bytearray()
    for c in range(2):
        data.append((doc_id + c) % 7)
    for c in range(2):
        data += struct.pack("<h", 16 + (doc_id * 31 + c * 97) % 4000)
    for c in range(2):
        data += struct.pack("<h", (doc_id * 7919 + c * 31) % 65536 - 32768)
    for c in range(2):
        data += struct.pack("<h", (doc_id * 104729 + c * 59) % 65536 - 32768)

    def nib(g: int) -> int:
        x = (doc_id * 11 + g * 5) % 64
        return x if x < 16 else x % 4

    for i in range(spb - 2):
        data.append((nib(2 * i) << 4) | nib(2 * i + 1))
    block_align = 14 + (spb - 2)
    assert len(data) == block_align
    ext = struct.pack("<HH", spb, len(MS_COEFS)) + b"".join(
        struct.pack("<hh", c1, c2) for c1, c2 in MS_COEFS
    )
    fmt = struct.pack(
        "<HHIIHHH", 2, 2, rate, rate * block_align // spb, block_align,
        4, len(ext),
    ) + ext
    return _riff_nonpcm(fmt, spb, bytes(data))


def _decode_ima_adpcm(
    data: bytes, block_align: int, samples_per_block: int, channels: int = 1,
) -> list[int]:
    """Expand IMA ADPCM blocks: each block opens with one 4-byte header
    PER CHANNEL seeding that channel's (predictor = first output sample,
    step index), then the data runs in 4-byte words — two nibbles per
    byte, LOW first — that ALTERNATE channels word by word (the WAV
    tag-0x11 stereo layout: 8 left samples, 8 right samples, ...).
    Returns frame-interleaved samples (L R L R ... for stereo)."""
    out: list[int] = []
    hdr = 4 * channels
    for boff in range(0, len(data), block_align):
        block = data[boff:boff + block_align]
        if len(block) < hdr:
            # a tail too short to even hold the block headers cannot be a
            # final short block (those still carry the per-channel seeds)
            # — the stream was truncated mid-header; fail loud
            raise ValueError(
                f"IMA ADPCM data truncated: {len(block)}-byte tail at "
                f"offset {boff} is shorter than the {hdr}-byte block header"
            )
        preds: list[int] = []
        idxs: list[int] = []
        chans: list[list[int]] = []
        for c in range(channels):
            pred, index = struct.unpack_from("<hB", block, 4 * c)
            if index > 88:
                raise ValueError(f"IMA ADPCM step index {index} out of range")
            preds.append(pred)
            idxs.append(index)
            chans.append([pred])
        if channels == 1:
            # mono: one contiguous nibble stream (no word segmentation,
            # so a final partial word is legal)
            ch_s = chans[0]
            for byte in block[hdr:]:
                for nib in (byte & 0xF, byte >> 4):
                    if len(ch_s) >= samples_per_block:
                        break
                    preds[0], idxs[0] = ima_adpcm_step(preds[0], idxs[0], nib)
                    ch_s.append(preds[0])
        else:
            off = hdr
            word = 0
            while off < len(block) and any(
                len(ch_s) < samples_per_block for ch_s in chans
            ):
                c = word % channels
                chunk = block[off:off + 4]
                if len(chunk) < 4:
                    raise ValueError(
                        f"IMA ADPCM data truncated: {len(chunk)}-byte word at "
                        f"offset {boff + off} (stereo data runs in 4-byte "
                        f"per-channel words)"
                    )
                ch_s = chans[c]
                for byte in chunk:
                    for nib in (byte & 0xF, byte >> 4):
                        if len(ch_s) >= samples_per_block:
                            break
                        preds[c], idxs[c] = ima_adpcm_step(preds[c], idxs[c], nib)
                        ch_s.append(preds[c])
                off += 4
                word += 1
        n = min(len(ch_s) for ch_s in chans)
        for t in range(n):
            for c in range(channels):
                out.append(chans[c][t])
    return out


#: Microsoft ADPCM (WAV format tag 2) public spec tables: the 16-entry
#: delta-adaptation table and the 7 standard predictor coefficient
#: pairs every encoder writes into the fmt extension (RIFF/WAVE
#: multimedia spec; identical tables in ffmpeg/sox/libsndfile).
MS_ADAPT = [230, 230, 230, 230, 307, 409, 512, 614,
            768, 614, 512, 409, 307, 230, 230, 230]
MS_COEFS = [(256, 0), (512, -256), (0, 0), (192, 64),
            (240, 0), (460, -208), (392, -232)]


def _trunc_div256(a: int) -> int:
    """C-style integer division by 256 (truncate toward ZERO — Python's
    ``//`` floors, which differs on negatives; the MS ADPCM predictor
    base is a C int division, so sign matters)."""
    return a // 256 if a >= 0 else -((-a) // 256)


def synth_wav_msadpcm(doc_id: int) -> bytes:
    """Deterministic Microsoft ADPCM (WAV format tag 2) fixture: mono,
    ONE block. The 7-byte block header carries the coefficient-pair
    selector doc_id % 7 (all seven standard pairs exercised), initial
    delta 16 + (doc_id*31) % 4000, and the two seed samples
    (doc_id*7919) % 65536 - 32768 and (doc_id*104729) % 65536 - 32768 —
    which ARE the first two output samples (sample2 first). The
    remaining n-2 samples are nibbles nib[t]: with
    x = (doc_id*11 + t*5) % 64, nib = x when x < 16 else x % 4 — each
    of the 16 codes appears once per 64 plus 48 small codes, so the
    delta recurrence (growth up to 3x per code 8) stays bounded
    (~2^20 peak) instead of overflowing the oracle's BIGINT, while
    every adaptation-table entry and both predictor clamps are hit.
    Nibbles pack HIGH first (the MS convention, opposite of IMA).
    n = 2 + 2*k, k = 60 + doc_id % 40 nibble bytes; block_align =
    7 + k. The fmt extension is the spec-faithful tag-2 form:
    samplesPerBlock, numCoef=7, then the seven (iCoef1, iCoef2)
    pairs; plus a fact chunk."""
    doc_id = int(doc_id)
    k = 60 + doc_id % 40
    n = 2 + 2 * k
    rate = 8000
    ci = doc_id % 7
    delta0 = 16 + (doc_id * 31) % 4000
    s1 = (doc_id * 7919) % 65536 - 32768
    s2 = (doc_id * 104729) % 65536 - 32768

    def nib(t: int) -> int:
        x = (doc_id * 11 + t * 5) % 64
        return x if x < 16 else x % 4

    data = bytearray([ci]) + struct.pack("<hhh", delta0, s1, s2)
    for i in range(k):
        data.append((nib(2 * i) << 4) | nib(2 * i + 1))
    block_align = 7 + k
    ext = struct.pack("<HH", n, len(MS_COEFS)) + b"".join(
        struct.pack("<hh", c1, c2) for c1, c2 in MS_COEFS
    )
    fmt = struct.pack(
        "<HHIIHHH", 2, 1, rate, rate * block_align // n, block_align, 4, len(ext)
    ) + ext
    return _riff_nonpcm(fmt, n, bytes(data))


def _decode_ms_adpcm(
    data: bytes, block_align: int, samples_per_block: int,
    coefs: list[tuple[int, int]], channels: int = 1,
) -> list[int]:
    """Expand Microsoft ADPCM blocks: each block's header — 7 bytes per
    channel, FIELD-interleaved (all coefficient selectors, then all
    iDeltas, then all sample1s, then all sample2s, the RIFF stereo
    layout) — seeds each channel's (delta, sample1, sample2); sample2
    frames are emitted first, then sample1 frames, after which each
    4-bit code steps that channel's second-order predictor:
    pred = clamp(trunc((s1*c1 + s2*c2)/256) + signed_code*delta),
    delta = max(16, adapt[code]*delta // 256). Nibbles run HIGH first
    and ALTERNATE channels nibble by nibble (stereo: high = left,
    low = right). Returns frame-interleaved samples."""
    out: list[int] = []
    hdr = 7 * channels
    for boff in range(0, len(data), block_align):
        block = data[boff:boff + block_align]
        if len(block) < hdr:
            # the per-channel header (coef selectors, iDeltas, two seed
            # samples each) is mandatory in every block including a final
            # short one — a shorter tail is a truncated stream; fail loud
            raise ValueError(
                f"MS ADPCM data truncated: {len(block)}-byte tail at "
                f"offset {boff} is shorter than the {hdr}-byte block header"
            )
        cs: list[tuple[int, int]] = []
        deltas: list[int] = []
        s1s: list[int] = []
        s2s: list[int] = []
        for c in range(channels):
            ci = block[c]
            if ci >= len(coefs):
                raise ValueError(
                    f"MS ADPCM block predictor {ci} outside the "
                    f"{len(coefs)}-entry coefficient table"
                )
            cs.append(coefs[ci])
            (delta,) = struct.unpack_from("<h", block, channels + 2 * c)
            if delta <= 0:
                raise ValueError(
                    f"MS ADPCM block iDelta must be positive, got {delta}"
                )
            deltas.append(delta)
            (s1,) = struct.unpack_from("<h", block, 3 * channels + 2 * c)
            (s2,) = struct.unpack_from("<h", block, 5 * channels + 2 * c)
            s1s.append(s1)
            s2s.append(s2)
        out.extend(s2s)
        out.extend(s1s)
        emitted = 2 * channels
        nib_i = 0
        for byte in block[hdr:]:
            for code in (byte >> 4, byte & 0xF):  # HIGH nibble first
                if emitted >= samples_per_block * channels:
                    break
                c = nib_i % channels
                nib_i += 1
                c1, c2 = cs[c]
                base = _trunc_div256(s1s[c] * c1 + s2s[c] * c2)
                signed = code - 16 if code >= 8 else code
                pred = max(-32768, min(32767, base + signed * deltas[c]))
                out.append(pred)
                s2s[c], s1s[c] = s1s[c], pred
                deltas[c] = max(16, (MS_ADAPT[code] * deltas[c]) >> 8)
                emitted += 1
    return out


#: GSM 06.10 full-rate (WAV format tag 49) public spec tables — ETSI
#: EN 300 961 (RPE-LTP); identical constants in every implementation
#: (libgsm/sox/ffmpeg). FAC = normalized xmax mantissa factors, QLB =
#: quantized LTP gain levels, and the LAR quantizer's MIC/B/INVA rows.
GSM_FAC = [18431, 20479, 22527, 24575, 26623, 28671, 30719, 32767]
GSM_QLB = [3277, 11469, 21299, 32767]
GSM_LAR_MIC = [-32, -32, -16, -16, -8, -8, -4, -4]
GSM_LAR_B = [0, 0, 2048, -2560, 94, -1792, -341, -1144]
GSM_LAR_INVA = [13107, 13107, 13107, 13107, 19223, 17476, 31454, 29708]
#: transmitted LARc bit widths (6,6,5,5,4,4,3,3) — 36 bits, then 4
#: subframes x (Nc 7, bc 2, Mc 2, xmaxc 6, 13 x xmc 3) = 56 -> 260 bits
GSM_LAR_BITS = [6, 6, 5, 5, 4, 4, 3, 3]


def _gsm_add(a: int, b: int) -> int:
    """Saturating 16-bit add (ETSI 06.10 §3.1.1 GSM_ADD)."""
    return max(-32768, min(32767, a + b))


def _gsm_mult_r(a: int, b: int) -> int:
    """Rounded fixed-point multiply (GSM_MULT_R): (a*b + 16384) >> 15
    with the spec's single special case mult_r(-32768, -32768) = 32767.
    Python's ``>>`` floors, matching the arithmetic shift."""
    if a == -32768 and b == -32768:
        return 32767
    return (a * b + 16384) >> 15


def _gsm_larc_to_larpp(larc: list[int]) -> list[int]:
    """Decode the 8 transmitted LAR codes to LARpp (§3.1.7): add the
    MIC offset, scale by 2^10, subtract 2*B, multiply by INVA, double.
    Every step saturating 16-bit."""
    out = []
    for i in range(8):
        t = _gsm_add(larc[i], GSM_LAR_MIC[i]) << 10  # fits 16 bits exactly
        t = _gsm_add(t, -(GSM_LAR_B[i] << 1))  # GSM_SUB
        t = _gsm_mult_r(GSM_LAR_INVA[i], t)
        out.append(_gsm_add(t, t))
    return out


def _gsm_larp_to_rp(larp: int) -> int:
    """LARp -> reflection coefficient (§3.1.8): piecewise companding,
    |rp| = 2L below 11059, L+11059 below 20070, else sat(L/4 + 26112)."""
    neg = larp < 0
    t = 32767 if larp == -32768 else abs(larp)
    if t < 11059:
        v = t << 1
    elif t < 20070:
        v = t + 11059
    else:
        v = _gsm_add(t >> 2, 26112)
    return -v if neg else v


#: short-term LAR interpolation zones over each 160-sample frame
#: (§3.1.7): (start, end, mix) where mix(old, new) uses floor shifts
_GSM_ZONES = (
    (0, 13, lambda o, n: _gsm_add(_gsm_add(o >> 2, n >> 2), o >> 1)),
    (13, 27, lambda o, n: _gsm_add(o >> 1, n >> 1)),
    (27, 40, lambda o, n: _gsm_add(_gsm_add(o >> 2, n >> 2), n >> 1)),
    (40, 160, lambda o, n: n),
)


def _gsm_apcm_dequant(xmaxc: int, xmcs: list[int]) -> list[int]:
    """APCM inverse quantization (§3.1.16): split xmaxc into
    exponent/mantissa (normalizing small mantissas), then expand each
    3-bit code via xmp = asr(mult_r(FAC[mant], (2*xmc - 7) << 12) +
    2^(temp2-1), temp2)."""
    exp = (xmaxc >> 3) - 1 if xmaxc > 15 else 0
    mant = xmaxc - (exp << 3)
    if mant == 0:
        exp, mant = -4, 7
    else:
        while mant <= 7:
            mant = (mant << 1) | 1
            exp -= 1
        mant -= 8
    fac = GSM_FAC[mant]
    temp2 = 6 - exp
    temp3 = (1 << (temp2 - 1)) if temp2 > 0 else 0
    out = []
    for xmc in xmcs:
        t = _gsm_mult_r(fac, ((xmc << 1) - 7) << 12)
        out.append(_gsm_add(t, temp3) >> temp2)
    return out


class _GsmState:
    """Decoder state that persists across frames: the 120-sample LTP
    history ring, the 9-node lattice vector, the de-emphasis register,
    the previous frame's LARpp (zone interpolation) and the previous
    valid LTP lag (fallback for out-of-range Nc)."""

    def __init__(self) -> None:
        self.hist: list[int] = [0] * 120
        self.v: list[int] = [0] * 9
        self.msr = 0
        self.larpp_prev: list[int] = [0] * 8
        self.nrp = 40


def _gsm_decode_frame(state: _GsmState, larc: list[int],
                      subs: list[tuple[int, int, int, int, list[int]]]) -> list[int]:
    """Decode one 160-sample GSM 06.10 frame given its unpacked
    parameters (§3.1.15-3.1.21): per subframe RPE dequant + grid
    positioning + long-term synthesis, then the frame-wide short-term
    lattice (LAR interpolation over 4 zones) and de-emphasis with
    upscale/truncate. ``subs`` is [(Nc, bc, Mc, xmaxc, xmc[13])] x 4."""
    wt: list[int] = []
    for nc, bc, mc, xmaxc, xmcs in subs:
        xmp = _gsm_apcm_dequant(xmaxc, xmcs)
        erp = [0] * 40
        for i, val in enumerate(xmp):
            erp[mc + 3 * i] = val
        nr = nc if 40 <= nc <= 120 else state.nrp
        state.nrp = nr
        brp = GSM_QLB[bc]
        for k in range(40):
            drp = _gsm_add(erp[k], _gsm_mult_r(brp, state.hist[-nr]))
            state.hist.append(drp)
            wt.append(drp)
    del state.hist[:-120]

    larpp = _gsm_larc_to_larpp(larc)
    out = []
    v = state.v
    for k0, k1, mix in _GSM_ZONES:
        rp = [_gsm_larp_to_rp(mix(state.larpp_prev[i], larpp[i])) for i in range(8)]
        for k in range(k0, k1):
            sri = wt[k]
            for i in range(7, -1, -1):
                sri = _gsm_add(sri, -_gsm_mult_r(rp[i], v[i]))
                v[i + 1] = _gsm_add(v[i], _gsm_mult_r(rp[i], sri))
            v[0] = sri
            msr = _gsm_add(sri, _gsm_mult_r(state.msr, 28180))
            state.msr = msr
            out.append(_gsm_add(msr, msr) & ~7)
    state.larpp_prev = larpp
    return out


class _MSBReader:
    """MSB-first bit reader over a bytes buffer (GSM frame packing)."""

    def __init__(self, buf: bytes, pos: int = 0) -> None:
        self.buf = buf
        self.pos = pos

    def read(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | ((self.buf[self.pos >> 3] >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return v


def _gsm_unpack_frame(r: _MSBReader) -> tuple[list[int], list]:
    larc = [r.read(b) for b in GSM_LAR_BITS]
    subs = []
    for _ in range(4):
        nc, bc, mc, xmaxc = r.read(7), r.read(2), r.read(2), r.read(6)
        subs.append((nc, bc, mc, xmaxc, [r.read(3) for _ in range(13)]))
    return larc, subs


def _decode_gsm(data: bytes, block_align: int, samples_per_block: int) -> list[int]:
    """Expand mono GSM 06.10 blocks (WAV format tag 49): each 65-byte
    block packs TWO 260-bit RPE-LTP frames MSB-first back to back
    (2 x 160 = 320 samples). Decoder state (LTP history, lattice,
    de-emphasis, previous LARpp) is continuous across frames and
    blocks, per the spec — a GSM stream is one session, not independent
    blocks. A tail shorter than block_align is a truncated stream and
    raises (blocks are fixed-size; there is no short final block)."""
    if block_align * 8 < 520:
        raise ValueError(
            f"GSM block_align {block_align} cannot hold two 260-bit frames"
        )
    out: list[int] = []
    state = _GsmState()
    for boff in range(0, len(data), block_align):
        block = data[boff:boff + block_align]
        if len(block) < block_align:
            raise ValueError(
                f"GSM data truncated: {len(block)}-byte tail at offset "
                f"{boff} is shorter than the {block_align}-byte block"
            )
        r = _MSBReader(block)
        emitted = 0
        for _ in range(2):
            larc, subs = _gsm_unpack_frame(r)
            frame = _gsm_decode_frame(state, larc, subs)
            take = min(160, samples_per_block - emitted)
            out.extend(frame[:take])
            emitted += take
    return out


class _MSBWriter:
    """MSB-first bit writer (fixture assembly twin of `_MSBReader`)."""

    def __init__(self) -> None:
        self.bits: list[int] = []

    def write(self, val: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bits.append((val >> i) & 1)

    def tobytes(self) -> bytes:
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            b = 0
            for bit in self.bits[i:i + 8]:
                b = (b << 1) | bit
            b <<= (8 - min(8, len(self.bits) - i))
            out.append(b)
        return bytes(out)


def synth_wav_gsm(doc_id: int) -> bytes:
    """Deterministic GSM 06.10 (WAV format tag 49) fixture: mono, ONE
    65-byte block = two 260-bit frames = 320 samples. Both frames share
    the doc's LAR codes LARc[i] = (doc_id * P[i]) % R[i] with
    P = (17, 29, 13, 7, 11, 23, 5, 3) over the transmitted ranges
    R = (64, 64, 32, 32, 16, 16, 8, 8); per global subframe j = 0..7:
    Nc = 40 + (doc_id*5 + j*17) % 81 (every legal lag), bc =
    (doc_id + j) % 4 (all four QLB gains), Mc = (doc_id*3 + j) % 4
    (all grids), xmaxc = 16 + (doc_id*7 + j*11) % 48 (exponent 1..6,
    mantissa field unnormalized — the closed-form dequant regime the
    oracle mirrors; sub-16 xmaxc normalization is unit-tested
    separately), xmc[i] = (doc_id*11 + j*7 + i*5) % 8 (all codes).
    The fmt chunk is the spec-faithful tag-49 form: wBitsPerSample 0,
    block_align 65, cbSize=2 extension carrying samplesPerBlock=320,
    plus a fact chunk."""
    doc_id = int(doc_id)
    larc = [(doc_id * p) % (1 << b) for p, b in zip(
        (17, 29, 13, 7, 11, 23, 5, 3), GSM_LAR_BITS)]
    w = _MSBWriter()
    for f in range(2):
        for val, bits in zip(larc, GSM_LAR_BITS):
            w.write(val, bits)
        for s in range(4):
            j = 4 * f + s
            w.write(40 + (doc_id * 5 + j * 17) % 81, 7)
            w.write((doc_id + j) % 4, 2)
            w.write((doc_id * 3 + j) % 4, 2)
            w.write(16 + (doc_id * 7 + j * 11) % 48, 6)
            for i in range(13):
                w.write((doc_id * 11 + j * 7 + i * 5) % 8, 3)
    data = w.tobytes()
    assert len(data) == 65
    rate = 8000
    fmt = struct.pack("<HHIIHHHH", 0x31, 1, rate, rate * 65 // 320, 65, 0, 2, 320)
    return _riff_nonpcm(fmt, 320, data)


def _parse_nonpcm_wav(raw: bytes) -> tuple[list, int, int]:
    """RIFF fallback for formats stdlib `wave` rejects: walks the chunk
    stream (skipping fact/LIST/etc.), reads the fmt tag, and decodes
    IEEE-float data (tag 3, 32- or 64-bit), A-law (tag 6) and mu-law
    (tag 7) — both stateless G.711 byte expansions — plus the stateful
    block codecs: IMA ADPCM (tag 17, mono + stereo), Microsoft ADPCM
    (tag 2, mono + stereo) and mono GSM 06.10 (tag 49). Returns
    (samples, n_frames, n_channels) with samples frame-interleaved.
    The remaining compressed tags (mp3-in-WAV) raise
    NotImplementedError — the documented codec seam."""
    if raw[:4] != b"RIFF" or len(raw) < 12 or raw[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    off, fmt, data = 12, None, None
    while off + 8 <= len(raw):
        cid = raw[off:off + 4]
        (sz,) = struct.unpack_from("<I", raw, off + 4)
        if cid == b"fmt ":
            fmt = raw[off + 8:off + 8 + sz]
        elif cid == b"data":
            data = raw[off + 8:off + 8 + sz]
        off += 8 + sz + (sz & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    tag, ch, _rate, _br, ba, bits = struct.unpack_from("<HHIIHH", fmt, 0)
    if tag == 6 or tag == 7:
        if bits != 8:
            raise ValueError(f"G.711 WAV must be 8 bits/sample, got {bits}")
        conv = alaw_to_linear if tag == 6 else ulaw_to_linear
        return [conv(b) for b in data], len(data) // max(ch, 1), ch
    if tag == 0x11:  # IMA ADPCM (DVI4)
        if ch not in (1, 2):
            raise NotImplementedError(
                f"IMA ADPCM decodes mono or stereo, got {ch} channels"
            )
        if bits != 4:
            raise ValueError(f"IMA ADPCM WAV must be 4 bits/sample, got {bits}")
        if len(fmt) < 20:
            raise ValueError("IMA ADPCM fmt chunk missing samplesPerBlock")
        (spb,) = struct.unpack_from("<H", fmt, 18)
        samples = _decode_ima_adpcm(data, ba, spb, ch)
        return samples, len(samples) // ch, ch
    if tag == 2:  # Microsoft ADPCM
        if ch not in (1, 2):
            raise NotImplementedError(
                f"MS ADPCM decodes mono or stereo, got {ch} channels"
            )
        if bits != 4:
            raise ValueError(f"MS ADPCM WAV must be 4 bits/sample, got {bits}")
        if len(fmt) < 22:
            raise ValueError("MS ADPCM fmt chunk missing extension")
        spb, ncoef = struct.unpack_from("<HH", fmt, 18)
        if ncoef < 7 or len(fmt) < 22 + 4 * ncoef:
            raise ValueError(
                f"MS ADPCM fmt extension must carry >= 7 coefficient pairs, "
                f"got {ncoef} in {len(fmt)} bytes"
            )
        coefs = [struct.unpack_from("<hh", fmt, 22 + 4 * i) for i in range(ncoef)]
        samples = _decode_ms_adpcm(data, ba, spb, coefs, ch)
        return samples, len(samples) // ch, ch
    if tag == 0x31:  # GSM 06.10 full-rate (WAV49)
        if ch != 1:
            raise NotImplementedError("only mono GSM 06.10 supported")
        if len(fmt) < 20:
            raise ValueError("GSM fmt chunk missing samplesPerBlock")
        (spb,) = struct.unpack_from("<H", fmt, 18)
        samples = _decode_gsm(data, ba, spb)
        return samples, len(samples), 1
    if tag == 0x55:  # MPEG Layer III in WAV: optional-dependency seam
        try:
            import av  # noqa: F401 — PyAV/ffmpeg, not in this container
        except ImportError as exc:
            raise NotImplementedError(
                "mp3-in-WAV (tag 85) needs an MPEG audio decoder (a "
                "polyphase filterbank + layer-III Huffman stage is out of "
                "stdlib scope); pip install av to enable this path"
            ) from exc
        samples: list = []
        nch = max(ch, 1)
        with av.open(BytesIO(bytes(data)), format="mp3") as container:
            for frame in container.decode(audio=0):
                arr = frame.to_ndarray()
                if arr.ndim == 2:  # planar (channels, n) -> interleave
                    samples.extend(float(v) for v in arr.T.reshape(-1))
                else:
                    samples.extend(float(v) for v in arr)
        if not samples:
            raise ValueError("mp3-in-WAV data decoded zero frames")
        return samples, len(samples) // nch, nch
    if tag != 3:
        raise NotImplementedError(
            f"WAV format tag {tag} not supported (PCM=1 via stdlib wave; "
            f"IEEE float=3, A-law=6, mu-law=7, MS ADPCM=2, IMA ADPCM=17, "
            f"GSM 06.10=49 here; mp3-in-WAV=85 via PyAV when importable)"
        )
    if bits == 32:
        count = len(data) // 4
        samples = list(struct.unpack(f"<{count}f", data[:count * 4]))
    elif bits == 64:
        count = len(data) // 8
        samples = list(struct.unpack(f"<{count}d", data[:count * 8]))
    else:
        raise ValueError(f"bad IEEE-float WAV bit depth {bits}")
    return samples, count // max(ch, 1), ch


def wav_decode(payload: bytes, dim: int = 8) -> list[float]:
    """Real audio codec for the `decode_features` seam — stdlib `wave`
    plus a small RIFF fallback, no external dependency. Parses the
    RIFF/WAVE header (channels, sample width, frame count), decodes
    every PCM width the WAV spec allows — unsigned 8-bit (centered at
    128, the WAV convention), little-endian int16, 3-byte
    two's-complement int24, and int32 — plus IEEE FLOAT (format tag 3,
    32/64-bit) and G.711 A-LAW/MU-LAW (tags 6/7, segmented expansions
    bit-identical to audioop's tables), all of which stdlib `wave`
    rejects and `_parse_nonpcm_wav` owns —
    mono-mixes multi-channel input (integer widths truncate toward
    zero; float widths take the exact mean), and emits ``dim`` windowed
    energy features: feats[w] = sum(abs(sample[t]) for t with
    t*dim//n == w). Integer sums (exact in double: n <= 657 samples of
    |s| < 2^31 stays far below 2^53) and dyadic float fixtures keep the
    output bit-stable across engines.

    Reference parity: the reference treats media as opaque payloads with
    no audio path at all; this is the brief's LLM-pipeline audio
    feature-extract stage, not a reference port.
    """
    raw = bytes(payload)
    try:
        with wave.open(BytesIO(raw), "rb") as w:
            n, ch, sw = w.getnframes(), w.getnchannels(), w.getsampwidth()
            frames = w.readframes(n)
    except wave.Error:
        samples, n, ch = _parse_nonpcm_wav(raw)
        if ch > 1:
            if samples and isinstance(samples[0], int):
                # integer-decoding tags (G.711): truncate toward zero,
                # matching the PCM branch's convention — the same audio
                # must mix identically whichever container carries it
                samples = [
                    int(sum(samples[i * ch:(i + 1) * ch]) / ch) for i in range(n)
                ]
            else:  # float tags: exact mean
                samples = [sum(samples[i * ch:(i + 1) * ch]) / ch for i in range(n)]
        feats = [0.0] * dim
        for t, s in enumerate(samples):
            feats[t * dim // max(n, 1)] += abs(s)
        return feats
    if sw == 1:  # unsigned 8-bit PCM, silence at 0x80
        samples = tuple(b - 128 for b in frames)
    elif sw == 2:
        samples = struct.unpack(f"<{n * ch}h", frames)
    elif sw == 3:  # 24-bit: 3-byte little-endian two's complement
        samples = tuple(
            int.from_bytes(frames[3 * i:3 * i + 3], "little", signed=True)
            for i in range(n * ch)
        )
    elif sw == 4:
        samples = struct.unpack(f"<{n * ch}i", frames)
    else:
        raise ValueError(f"bad WAV PCM sample width {8 * sw}-bit")
    if ch > 1:  # mono-mix, truncating toward zero like int division
        samples = [int(sum(samples[i * ch:(i + 1) * ch]) / ch) for i in range(n)]
    feats = [0] * dim
    for t, s in enumerate(samples):
        feats[t * dim // max(n, 1)] += abs(s)
    return [float(v) for v in feats]


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (RFC 2083 §6.6): nearest of left/up/up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data)) + ctype + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


#: Synthetic PNG fixture geometry: height fixed, width varies by doc so
#: the decoder must take geometry from IHDR, not assume it.
PNG_H = 16


#: Adam7 interlace passes: (x_origin, y_origin, x_stride, y_stride).
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _filter_encode(sample_rows: list[list[int]], bpp: int) -> bytearray:
    """Filter-encode scanlines of raw sample bytes with filter type
    y % 5 — all five PNG filters appear, so a decoder that shortcuts the
    un-filter step cannot round-trip any fixture. ``bpp`` is the
    filter's byte distance to the 'left' sample (1 gray/palette,
    3 RGB)."""
    raw = bytearray()
    for y, row in enumerate(sample_rows):
        ft = y % 5
        raw.append(ft)
        prior = sample_rows[y - 1] if y > 0 else [0] * len(row)
        for x, v in enumerate(row):
            left = row[x - bpp] if x >= bpp else 0
            up = prior[x]
            ul = prior[x - bpp] if x >= bpp else 0
            if ft == 0:
                f = v
            elif ft == 1:
                f = v - left
            elif ft == 2:
                f = v - up
            elif ft == 3:
                f = v - (left + up) // 2
            else:
                f = v - _paeth(left, up, ul)
            raw.append(f % 256)
    return raw


def synth_png(doc_id: int) -> bytes:
    """Deterministic PNG fixture mix keyed by doc_id % 8 — every layout
    the codec decodes, all with the SAME luma so the oracle formula is
    layout-independent: 0 = 8-bit grayscale non-interlaced, 1 = 8-bit
    PALETTE (ctype 3, 256 gray PLTE entries (i,i,i), so luma == index),
    2 = ADAM7-interlaced grayscale (seven per-pass-filtered sub-images),
    3 = 8-bit RGB with DISTINCT channels (v+1, v, v-1 clamped — the
    integer-average luma recovers v exactly), 4 = 8-bit GRAY+ALPHA
    (ctype 4 — a deterministic non-constant alpha the luma must ignore),
    5 = 8-bit RGBA (ctype 6, same channel trick + alpha), 6 = 16-BIT
    grayscale (big-endian samples, high byte == luma, non-constant low
    byte the 16->8 reduction must drop), 7 = 16-bit RGBA. Pixel luma
    (x, y) = (doc_id*17 + y*31 + x*7) % 256; alpha(x, y) = (doc_id*5 +
    y*7 + x*3) % 256; 16-bit low byte = (doc_id*3 + y*11 + x*13) % 256;
    width = 8 + (doc_id % 3)*4, height 16. Every scanline (or pass
    scanline) cycles all five filters."""
    doc_id = int(doc_id)
    w, h = 8 + (doc_id % 3) * 4, PNG_H
    variant = doc_id % 8
    vals = [
        [(doc_id * 17 + y * 31 + x * 7) % 256 for x in range(w)]
        for y in range(h)
    ]

    def alpha(x: int, y: int) -> int:
        return (doc_id * 5 + y * 7 + x * 3) % 256

    def lo(x: int, y: int) -> int:
        return (doc_id * 3 + y * 11 + x * 13) % 256

    def rgb(v: int) -> tuple[int, int, int]:
        return (v + 1, v, v - 1) if 1 <= v <= 254 else (v, v, v)

    plte = b""
    if variant == 1:  # palette: indices ARE the luma values
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
        plte = bytes(v for i in range(256) for v in (i, i, i))
        raw = _filter_encode(vals, 1)
    elif variant == 2:  # Adam7 grayscale
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 1)
        raw = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            pass_rows = [
                [vals[y][x] for x in range(x0, w, dx)] for y in range(y0, h, dy)
            ]
            if pass_rows and pass_rows[0]:
                raw += _filter_encode(pass_rows, 1)
    elif variant == 3:  # RGB, distinct channels, integer-average luma == v
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        rgb_rows = [[c for v in row for c in rgb(v)] for row in vals]
        raw = _filter_encode(rgb_rows, 3)
    elif variant == 4:  # gray + alpha
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 4, 0, 0, 0)
        ga_rows = [
            [c for x, v in enumerate(row) for c in (v, alpha(x, y))]
            for y, row in enumerate(vals)
        ]
        raw = _filter_encode(ga_rows, 2)
    elif variant == 5:  # RGBA
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0)
        rgba_rows = [
            [c for x, v in enumerate(row) for c in (*rgb(v), alpha(x, y))]
            for y, row in enumerate(vals)
        ]
        raw = _filter_encode(rgba_rows, 4)
    elif variant == 6:  # 16-bit grayscale, big-endian (high byte = luma)
        ihdr = struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0)
        g16_rows = [
            [c for x, v in enumerate(row) for c in (v, lo(x, y))]
            for y, row in enumerate(vals)
        ]
        raw = _filter_encode(g16_rows, 2)
    elif variant == 7:  # 16-bit RGBA
        ihdr = struct.pack(">IIBBBBB", w, h, 16, 6, 0, 0, 0)
        rgba16_rows = [
            [
                c
                for x, v in enumerate(row)
                for s in (*rgb(v), alpha(x, y))
                for c in (s, lo(x, y))
            ]
            for y, row in enumerate(vals)
        ]
        raw = _filter_encode(rgba16_rows, 8)
    else:  # plain grayscale
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        raw = _filter_encode(vals, 1)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + (_png_chunk(b"PLTE", plte) if plte else b"")
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def png_decode(payload: bytes, dim: int = 8) -> list[float]:
    """Real image codec for the `decode_features` seam — pure stdlib
    (`zlib`), no Pillow. Parses the PNG signature and chunk stream,
    inflates the concatenated IDAT stream, inverts the per-scanline
    filter (all five types: None/Sub/Up/Average/Paeth), and emits the
    same normalized ``dim``-bin luminance histogram `pil_decode`
    produces: feats[k] = count(pixels with luma*dim//256 == k) /
    n_pixels, where RGB luma is the integer average (r+g+b)//3.

    Supported layouts: EVERY color type the PNG spec defines —
    grayscale (ctype 0), RGB (ctype 2), PALETTE (ctype 3 at depths
    1/2/4/8 — packed indices unpacked MSB-first, PLTE triples averaged
    to luma), gray+alpha (ctype 4), and RGBA (ctype 6) — at both sample
    depths 8 and 16 (16-bit samples are big-endian; the 16->8 luma
    reduction takes the high byte — floor(v/256), the common
    truncating approximation; the spec's RECOMMENDED rounded scale-down
    is (v*255+32767)//65535, one off when the low byte >= 128, so
    features can differ from Pillow-style conversion on external
    16-bit images — the synth fixtures are self-consistent), alpha
    channels ignored for luma (straight, non-premultiplied), each in
    BOTH interlace modes (non-interlaced and ADAM7 — seven
    independently filtered passes scattered back to the full grid).
    Integer bin math and int/int division keep the output bit-stable
    across engines.

    Reference parity: the reference has no image path (media are opaque
    payloads); this is the brief's LLM-pipeline image decode stage, not
    a reference port.
    """
    raw = bytes(payload)
    if raw[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG (bad signature)")
    off, ihdr, idat = 8, None, bytearray()
    plte: bytes | None = None
    while off + 8 <= len(raw):
        (clen,) = struct.unpack_from(">I", raw, off)
        ctype = raw[off + 4:off + 8]
        data = raw[off + 8:off + 8 + clen]
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = bytes(data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        off += 12 + clen  # len + type + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    w, h, depth, ctype_v, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0 or interlace not in (0, 1):
        raise ValueError(
            f"bad PNG IHDR (compression={comp}, filter={filt}, interlace={interlace})"
        )
    spp_by_ctype = {0: 1, 2: 3, 4: 2, 6: 4}
    if ctype_v in spp_by_ctype:
        if depth not in (8, 16):
            raise ValueError(f"bad PNG depth {depth} for color type {ctype_v}")
        spp = spp_by_ctype[ctype_v]
        bits_pp = depth * spp
    elif ctype_v == 3:
        if depth not in (1, 2, 4, 8):
            raise ValueError(f"bad PNG palette depth {depth}")
        if plte is None or len(plte) % 3 or not plte:
            raise ValueError("palette PNG missing or malformed PLTE")
        spp = 1
        bits_pp = depth
    else:
        raise ValueError(f"bad PNG color type {ctype_v}")
    bps = max(1, depth // 8)  # bytes per sample (palette: packed, 1)
    flat = zlib.decompress(bytes(idat))
    passes = _ADAM7 if interlace == 1 else [(0, 0, 1, 1)]
    lum = [[0] * w for _ in range(h)]
    pos = 0
    for x0, y0, dx, dy in passes:
        pw = (w - x0 + dx - 1) // dx if x0 < w else 0
        ph = (h - y0 + dy - 1) // dy if y0 < h else 0
        if pw == 0 or ph == 0:
            continue
        stride = (pw * bits_pp + 7) // 8
        fbpp = max(1, bits_pp // 8)
        prior = bytearray(stride)
        for py in range(ph):
            if pos + 1 + stride > len(flat):
                raise ValueError("PNG pixel data length mismatch")
            ft = flat[pos]
            line = bytearray(flat[pos + 1:pos + 1 + stride])
            pos += 1 + stride
            if ft > 4:
                raise ValueError(f"bad PNG filter type {ft}")
            for x in range(stride):
                left = line[x - fbpp] if x >= fbpp else 0
                up = prior[x]
                ul = prior[x - fbpp] if x >= fbpp else 0
                if ft == 1:
                    line[x] = (line[x] + left) % 256
                elif ft == 2:
                    line[x] = (line[x] + up) % 256
                elif ft == 3:
                    line[x] = (line[x] + (left + up) // 2) % 256
                elif ft == 4:
                    line[x] = (line[x] + _paeth(left, up, ul)) % 256
            out_row = lum[y0 + py * dy]
            for i in range(pw):
                if ctype_v == 3:  # palette
                    if depth == 8:
                        s = line[i]
                    else:
                        bit = i * depth
                        s = (line[bit // 8] >> (8 - depth - bit % 8)) & ((1 << depth) - 1)
                    if 3 * s + 2 >= len(plte):
                        raise ValueError(
                            f"PNG palette index {s} out of range for PLTE"
                        )
                    v = (plte[3 * s] + plte[3 * s + 1] + plte[3 * s + 2]) // 3
                else:
                    # 16-bit samples are big-endian: the high byte sits
                    # first, so indexing sample k at stride `bps` reads
                    # the spec's 16->8 scale-down for free; trailing
                    # alpha samples (ctypes 4/6) are simply not read
                    base = i * spp * bps
                    if ctype_v in (0, 4):
                        v = line[base]
                    else:  # RGB / RGBA: integer-average luma
                        v = (
                            line[base] + line[base + bps] + line[base + 2 * bps]
                        ) // 3
                out_row[x0 + i * dx] = v
            prior = line
    if pos != len(flat):
        raise ValueError("PNG pixel data length mismatch")
    counts = [0] * dim
    for row in lum:
        for v in row:
            counts[v * dim // 256] += 1
    n = max(w * h, 1)
    return [c / n for c in counts]


#: Synthetic AVI fixture geometry (16x16 24-bit frames; stride 48 is
#: already 4-byte aligned, so frame payload = 16*48 = 768 bytes).
AVI_W = AVI_H = 16
_AVI_FRAME_BYTES = AVI_H * ((AVI_W * 3 + 3) // 4 * 4)


def synth_avi(doc_id: int) -> bytes:
    """Deterministic AVI fixture: a real RIFF/AVI container (hdrl with
    avih + strl/strh/strf, movi with ``00db`` uncompressed 24-bit DIB
    frames) whose pixel bytes derive from ``doc_id`` by pure integer
    arithmetic — so a SQL oracle can recompute the decoded features from
    the id alone while the Spark path must parse the actual container.

    n_frames = 8 + doc_id % 5 (≥ dim, so every feature window is hit);
    byte at (frame f, row y, col x, channel c) =
    (doc_id*31 + f*97 + y*13 + x*7 + c*5) % 256;
    total size = 224 + 776·n_frames (fixed headers + 8+768 per frame).
    """
    doc_id = int(doc_id)
    n = 8 + doc_id % 5
    w, h, fb = AVI_W, AVI_H, _AVI_FRAME_BYTES

    def frame(f: int) -> bytes:
        rows = []
        for y in range(h - 1, -1, -1):  # DIB rows are stored bottom-up
            rows.append(
                bytes(
                    (doc_id * 31 + f * 97 + y * 13 + x * 7 + c * 5) % 256
                    for x in range(w)
                    for c in range(3)
                )
            )
        return b"".join(rows)

    avih = struct.pack(
        "<10I", 40000, fb * 25, 0, 0, n, 0, 1, fb, w, h
    ) + b"\x00" * 16
    strh = (
        b"vids" + b"DIB "
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, 25, 0, n, fb, 0, 0)
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, fb, 0, 0, 0, 0)
    strl = (
        b"LIST" + struct.pack("<I", 4 + 8 + 56 + 8 + 40) + b"strl"
        + b"strh" + struct.pack("<I", 56) + strh
        + b"strf" + struct.pack("<I", 40) + strf
    )
    hdrl = (
        b"LIST" + struct.pack("<I", 4 + 8 + 56 + len(strl)) + b"hdrl"
        + b"avih" + struct.pack("<I", 56) + avih + strl
    )
    frames = b"".join(
        b"00db" + struct.pack("<I", fb) + frame(f) for f in range(n)
    )
    movi = b"LIST" + struct.pack("<I", 4 + len(frames)) + b"movi" + frames
    return b"RIFF" + struct.pack("<I", 4 + len(hdrl) + len(movi)) + b"AVI " + hdrl + movi


#: MJPEG fixture frame-chunk size: every JPEG frame is zero-padded to
#: this many bytes (measured fixture max is 353; decoders stop at EOI, and
#: real MJPEG muxers pad frames too), so the container's total size stays
#: a pure integer function of doc_id that a SQL oracle can recompute.
MJPEG_FRAME_CAP = 512

#: BITMAPINFOHEADER biCompression fourcc 'MJPG' as the little-endian u32
#: it is stored as.
def synth_avi_dib(doc_id: int) -> bytes:
    """Deterministic AVI fixture for the NON-24-bit DIB formats, cycling
    doc%4 over 8-bit palettized (raw), 32-bit BI_RGB, BI_RLE8, and
    BI_RLE4 run-length frames. Geometry 16x16, n_frames = 8 + doc%5.

    Palette entry i (8-bit variants) is B,G,R =
    ((doc*7 + i*3) % 256, (doc*11 + i*5) % 256, (doc*13 + i*7) % 256).
    Pixel index at (frame f, STORAGE row r, col x) — storage order is
    the DIB's bottom-up raster; the feature is a per-frame SUM, so
    orientation is oracle-invisible — is
    (doc*31 + f*97 + r*13 + x*7) % 256 for the raw 8-bit variant. The
    32-bit variant's pixel bytes are the 24-bit fixture formula
    (doc*31 + f*97 + r*13 + x*7 + c*5) % 256 for c in 0..2 with the
    reserved byte set to 0xAA — a decoder summing it cannot match. The
    RLE8 variant encodes index (doc*31 + f*97 + r*13 + (x//4)*7) % 256
    (runs of 4) alternating encoded and absolute mode per block, one
    end-of-line per row, a final end-of-bitmap — and row r=5 opens with
    a (dx=4, dy=0) DELTA escape, so its first four pixels decode as
    index 0 (the zero-fill convention the oracle mirrors). The RLE4
    variant packs the same run structure at 4 bits — encoded runs
    alternate the pair byte's nibbles (both set to the value here) and
    absolute runs pack two indices per byte — over a 16-color palette
    with index (doc*31 + f*97 + r*13 + (x//4)*7) % 16."""
    doc_id = int(doc_id)
    n = 8 + doc_id % 5
    w = h = 16
    variant = doc_id % 4

    def pal() -> bytes:
        out = bytearray()
        for i in range(256):
            out += bytes((
                (doc_id * 7 + i * 3) % 256,
                (doc_id * 11 + i * 5) % 256,
                (doc_id * 13 + i * 7) % 256,
                0,
            ))
        return bytes(out)

    def frame(f: int) -> bytes:
        if variant == 0:  # raw 8-bit, stride 16 is already 4-aligned
            return bytes(
                (doc_id * 31 + f * 97 + r * 13 + x * 7) % 256
                for r in range(h)
                for x in range(w)
            )
        if variant == 1:  # 32-bit B,G,R + 0xAA reserved
            out = bytearray()
            for r in range(h):
                for x in range(w):
                    out += bytes(
                        (doc_id * 31 + f * 97 + r * 13 + x * 7 + c * 5) % 256
                        for c in range(3)
                    )
                    out.append(0xAA)
            return bytes(out)
        if variant == 2:  # BI_RLE8
            out = bytearray()
            for r in range(h):
                b0 = 0
                if r == 5:
                    out += bytes((0, 2, 4, 0))  # delta: skip 4 pixels
                    b0 = 1
                for b in range(b0, w // 4):
                    v = (doc_id * 31 + f * 97 + r * 13 + b * 7) % 256
                    if b % 2 == 0:
                        out += bytes((4, v))  # encoded run
                    else:
                        out += bytes((0, 4, v, v, v, v))  # absolute run (even)
                out += bytes((0, 0))  # end of line
            out += bytes((0, 1))  # end of bitmap
            return bytes(out)
        out = bytearray()  # BI_RLE4: same structure, nibble-packed
        for r in range(h):
            b0 = 0
            if r == 5:
                out += bytes((0, 2, 4, 0))  # delta: skip 4 pixels
                b0 = 1
            for b in range(b0, w // 4):
                v = (doc_id * 31 + f * 97 + r * 13 + b * 7) % 16
                if b % 2 == 0:
                    out += bytes((4, (v << 4) | v))  # encoded run (both nibbles)
                else:
                    out += bytes((0, 4, (v << 4) | v, (v << 4) | v))  # absolute
            out += bytes((0, 0))  # end of line
        out += bytes((0, 1))  # end of bitmap
        return bytes(out)

    bitcount = {0: 8, 1: 32, 2: 8, 3: 4}[variant]
    compression = {0: 0, 1: 0, 2: 1, 3: 2}[variant]
    palette = b"" if variant == 1 else pal()
    frames_raw = [frame(f) for f in range(n)]
    fb = max(len(fr) for fr in frames_raw)
    avih = struct.pack(
        "<10I", 40000, fb * 25, 0, 0, n, 0, 1, fb, w, h
    ) + b"\x00" * 16
    strh = (
        b"vids" + b"DIB "
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, 25, 0, n, fb, 0, 0)
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, bitcount, compression, fb, 0, 0,
        (16 if variant == 3 else 256) if palette else 0, 0,
    ) + (palette[:64] if variant == 3 else palette)
    strl = (
        b"LIST" + struct.pack("<I", 4 + 8 + 56 + 8 + len(strf)) + b"strl"
        + b"strh" + struct.pack("<I", 56) + strh
        + b"strf" + struct.pack("<I", len(strf)) + strf
    )
    hdrl = (
        b"LIST" + struct.pack("<I", 4 + 8 + 56 + len(strl)) + b"hdrl"
        + b"avih" + struct.pack("<I", 56) + avih + strl
    )
    cid = b"00dc" if variant >= 2 else b"00db"
    frames = b"".join(
        cid + struct.pack("<I", len(fr)) + fr + (b"\x00" if len(fr) & 1 else b"")
        for fr in frames_raw
    )
    movi = b"LIST" + struct.pack("<I", 4 + len(frames)) + b"movi" + frames
    return b"RIFF" + struct.pack("<I", 4 + len(hdrl) + len(movi)) + b"AVI " + hdrl + movi


_MJPG_FOURCC = int.from_bytes(b"MJPG", "little")


def synth_avi_mjpeg(doc_id: int) -> bytes:
    """Deterministic MJPEG AVI fixture: the same RIFF/AVI layout as
    `synth_avi` but with fccHandler/biCompression 'MJPG' and ``00dc``
    frame chunks each carrying a REAL 16x16 grayscale JPEG
    (operators/jpeg.synth_jpeg at e = 6*(doc_id*13 + f) — always even
    and ≡ 0 mod 6, so frames ALTERNATE baseline-with-restart-markers and
    progressive-with-DC-scan-restarts containers as f advances),
    zero-padded to MJPEG_FRAME_CAP bytes. n_frames = 6 + doc_id % 4;
    total size = 224 + (8 + MJPEG_FRAME_CAP)·n_frames — the header
    layout is byte-compatible with `synth_avi`, so the 224-byte constant
    is shared and the oracle's n_bytes check proves the mux."""
    from financedatabase_spark.operators.jpeg import synth_jpeg

    doc_id = int(doc_id)
    n = 6 + doc_id % 4
    w = h = AVI_W
    fb = MJPEG_FRAME_CAP

    def frame(f: int) -> bytes:
        jp = synth_jpeg(6 * (doc_id * 13 + f))
        if len(jp) > fb:
            raise ValueError(
                f"MJPEG fixture frame exceeds MJPEG_FRAME_CAP ({len(jp)} > {fb})"
            )
        return jp + b"\x00" * (fb - len(jp))

    avih = struct.pack(
        "<10I", 40000, fb * 25, 0, 0, n, 0, 1, fb, w, h
    ) + b"\x00" * 16
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, 25, 0, n, fb, 0, 0)
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, _MJPG_FOURCC, fb, 0, 0, 0, 0
    )
    strl = (
        b"LIST" + struct.pack("<I", 4 + 8 + 56 + 8 + 40) + b"strl"
        + b"strh" + struct.pack("<I", 56) + strh
        + b"strf" + struct.pack("<I", 40) + strf
    )
    hdrl = (
        b"LIST" + struct.pack("<I", 4 + 8 + 56 + len(strl)) + b"hdrl"
        + b"avih" + struct.pack("<I", 56) + avih + strl
    )
    frames = b"".join(
        b"00dc" + struct.pack("<I", fb) + frame(f) for f in range(n)
    )
    movi = b"LIST" + struct.pack("<I", 4 + len(frames)) + b"movi" + frames
    return b"RIFF" + struct.pack("<I", 4 + len(hdrl) + len(movi)) + b"AVI " + hdrl + movi


def _decode_rle8(data: bytes, width: int, height: int) -> bytes:
    """Decode one BI_RLE8 compressed DIB frame to its w*h palette
    indices (the public BITMAPINFOHEADER run-length format): byte pairs
    (N, V) repeat V N times when N > 0; N == 0 escapes to end-of-line
    (V=0), end-of-bitmap (V=1), a (dx, dy) position delta (V=2 — the
    skipped pixels are undefined by the format and decode as index 0
    here, the common renderer convention), or an absolute run of V raw
    indices padded to a word boundary (V >= 3). Rows run bottom-up like
    every DIB; runs may not cross a row boundary. Truncated pairs,
    row/raster overruns, and a missing end-of-bitmap escape all raise —
    the fail-loud posture of the other codecs."""
    out = bytearray(width * height)
    x = y = 0  # y counts rows from the bottom (DIB storage order)
    i = 0
    ended = False
    while i < len(data):
        if i + 2 > len(data):
            raise ValueError("RLE8 stream truncated mid-pair")
        n, v = data[i], data[i + 1]
        i += 2
        if n > 0:
            if y >= height or x + n > width:
                raise ValueError(
                    f"RLE8 encoded run overruns the {width}x{height} raster "
                    f"at ({x}, row {y})"
                )
            row = y * width
            out[row + x:row + x + n] = bytes([v]) * n
            x += n
        elif v == 0:  # end of line
            x = 0
            y += 1
            if y > height:
                raise ValueError("RLE8 end-of-line past the last row")
        elif v == 1:  # end of bitmap
            ended = True
            break
        elif v == 2:  # delta
            if i + 2 > len(data):
                raise ValueError("RLE8 delta escape truncated")
            x += data[i]
            y += data[i + 1]
            i += 2
            if x > width or y > height:
                raise ValueError("RLE8 delta moves outside the raster")
        else:  # absolute mode
            if i + v > len(data):
                raise ValueError("RLE8 absolute run truncated")
            if y >= height or x + v > width:
                raise ValueError(
                    f"RLE8 absolute run overruns the {width}x{height} raster "
                    f"at ({x}, row {y})"
                )
            row = y * width
            out[row + x:row + x + v] = data[i:i + v]
            x += v
            i += v + (v & 1)  # absolute runs pad to a word boundary
    if not ended:
        raise ValueError("RLE8 stream missing the end-of-bitmap escape")
    return bytes(out)


def _decode_rle4(data: bytes, width: int, height: int) -> bytes:
    """Decode one BI_RLE4 compressed DIB frame to its w*h palette
    indices: the 4-bit sibling of `_decode_rle8` — encoded runs repeat
    the pair byte's two nibbles ALTERNATELY (high first), absolute runs
    carry V indices packed two per byte (high first) padded to a word
    boundary, and the escape set (EOL / EOB / delta with zero-fill) is
    identical. Same fail-loud posture."""
    out = bytearray(width * height)
    x = y = 0
    i = 0
    ended = False
    while i < len(data):
        if i + 2 > len(data):
            raise ValueError("RLE4 stream truncated mid-pair")
        n, v = data[i], data[i + 1]
        i += 2
        if n > 0:
            if y >= height or x + n > width:
                raise ValueError(
                    f"RLE4 encoded run overruns the {width}x{height} raster "
                    f"at ({x}, row {y})"
                )
            row = y * width
            hi, lo = v >> 4, v & 0xF
            for k in range(n):
                out[row + x + k] = hi if k % 2 == 0 else lo
            x += n
        elif v == 0:  # end of line
            x = 0
            y += 1
            if y > height:
                raise ValueError("RLE4 end-of-line past the last row")
        elif v == 1:  # end of bitmap
            ended = True
            break
        elif v == 2:  # delta
            if i + 2 > len(data):
                raise ValueError("RLE4 delta escape truncated")
            x += data[i]
            y += data[i + 1]
            i += 2
            if x > width or y > height:
                raise ValueError("RLE4 delta moves outside the raster")
        else:  # absolute mode: v indices, two per byte, word-padded
            nbytes = (v + 1) // 2
            if i + nbytes > len(data):
                raise ValueError("RLE4 absolute run truncated")
            if y >= height or x + v > width:
                raise ValueError(
                    f"RLE4 absolute run overruns the {width}x{height} raster "
                    f"at ({x}, row {y})"
                )
            row = y * width
            for k in range(v):
                b = data[i + k // 2]
                out[row + x + k] = (b >> 4) if k % 2 == 0 else (b & 0xF)
            x += v
            i += nbytes + (nbytes & 1)  # pad to a word boundary
    if not ended:
        raise ValueError("RLE4 stream missing the end-of-bitmap escape")
    return bytes(out)


def bmp_pixels(payload: bytes) -> tuple[int, int, list[tuple[int, int, int]]]:
    """Decode a STANDALONE BMP file ("BM" + BITMAPFILEHEADER +
    BITMAPINFOHEADER) to (width, height, row-major top-down (r, g, b))
    — the same DIB pixel formats the AVI path decodes: 8-bit
    palettized, 24-bit, 32-bit BI_RGB (reserved byte ignored), and
    BI_RLE8 / BI_RLE4 through the shared run-length walkers. Rows are
    stored bottom-up (negative biHeight top-down files are accepted
    too); truncation, unsupported bitcounts/compressions, and a
    missing palette raise loudly."""
    raw = bytes(payload)
    if raw[:2] != b"BM" or len(raw) < 54:
        raise ValueError("not a BMP (missing BM file header)")
    (pix_off,) = struct.unpack_from("<I", raw, 10)
    hdr_size, w, h_signed, _planes, bitcount, compression = struct.unpack_from(
        "<IiiHHI", raw, 14
    )
    if hdr_size < 40:
        raise NotImplementedError(
            f"only BITMAPINFOHEADER-class BMPs supported (header {hdr_size})"
        )
    top_down = h_signed < 0
    h = -h_signed if top_down else h_signed
    if w <= 0 or h <= 0:
        raise ValueError(f"BMP has empty {w}x{h_signed} raster")
    palette: list[tuple[int, int, int]] | None = None
    if bitcount in (4, 8):
        (clr_used,) = struct.unpack_from("<I", raw, 14 + 32)
        ncolors = clr_used or (1 << bitcount)
        pal_off = 14 + hdr_size
        if pal_off + 4 * ncolors > len(raw):
            raise ValueError(
                f"BMP palette truncated: {ncolors} RGBQUAD entries expected"
            )
        palette = [
            (raw[pal_off + 4 * i + 2], raw[pal_off + 4 * i + 1], raw[pal_off + 4 * i])
            for i in range(ncolors)
        ]
    data = raw[pix_off:]
    if compression == 0:
        if bitcount == 24:
            stride = (w * 3 + 3) // 4 * 4
            if len(data) < stride * h:
                raise ValueError("BMP pixel data truncated")
            rows = [
                [
                    (
                        data[r * stride + 3 * x + 2],
                        data[r * stride + 3 * x + 1],
                        data[r * stride + 3 * x],
                    )
                    for x in range(w)
                ]
                for r in range(h)
            ]
        elif bitcount == 32:
            if len(data) < 4 * w * h:
                raise ValueError("BMP pixel data truncated")
            rows = [
                [
                    (
                        data[(r * w + x) * 4 + 2],
                        data[(r * w + x) * 4 + 1],
                        data[(r * w + x) * 4],
                    )
                    for x in range(w)
                ]
                for r in range(h)
            ]
        elif bitcount == 8:
            stride = (w + 3) // 4 * 4
            if len(data) < stride * h:
                raise ValueError("BMP pixel data truncated")
            rows = [
                [
                    palette[data[r * stride + x]]
                    if data[r * stride + x] < len(palette)
                    else (0, 0, 0)
                    for x in range(w)
                ]
                for r in range(h)
            ]
        else:
            raise NotImplementedError(
                f"only 8/24/32-bit uncompressed BMPs supported "
                f"(got bitcount={bitcount})"
            )
    elif compression in (1, 2):
        if compression == 1 and bitcount == 8:
            idx = _decode_rle8(data, w, h)
        elif compression == 2 and bitcount == 4:
            idx = _decode_rle4(data, w, h)
        else:
            raise ValueError(
                f"BMP RLE{8 if compression == 1 else 4} requires "
                f"{8 if compression == 1 else 4}-bit frames, got {bitcount}"
            )
        if palette is None:
            raise ValueError("run-length BMP needs a palette")
        rows = [
            [
                palette[idx[r * w + x]] if idx[r * w + x] < len(palette)
                else (0, 0, 0)
                for x in range(w)
            ]
            for r in range(h)
        ]
    else:
        raise NotImplementedError(
            f"BMP compression {compression} not supported "
            f"(BI_RGB/BI_RLE8/BI_RLE4 here)"
        )
    if not top_down:
        rows.reverse()  # storage is bottom-up
    return w, h, [px for row in rows for px in row]


def bmp_decode(payload: bytes, dim: int = 8) -> list[float]:
    """Image codec for the `decode_features` seam: normalized ``dim``-bin
    Rec.601 integer-luma histogram (same shape as the other image
    codecs)."""
    w, h, px = bmp_pixels(payload)
    counts = [0] * dim
    for r, g, b in px:
        luma = (299 * r + 587 * g + 114 * b) // 1000
        counts[(luma * dim) >> 8] += 1
    return [c / (w * h) for c in counts]


def synth_bmp_file(doc_id: int) -> bytes:
    """Deterministic standalone-BMP fixture, cycling doc%4 over 24-bit
    (bottom-up), 8-bit palettized TOP-DOWN (negative height), BI_RLE8,
    and 32-bit. Canvas w = 16 + (doc%3)*8, h = 16; gray driver
    g(y, x) = (doc*31 + y*17 + x*7) % 256 in DISPLAY coordinates
    (top-down y); palette entry i is (R, G, B) =
    ((doc*7 + i*3) % 256, (doc*11 + i*5) % 256, (doc*13 + i*7) % 256);
    the RLE8 variant uses index (doc*31 + y*17 + (x//4)*7) % 256 in
    runs of 4 (encoded/absolute alternating, one delta on display row
    5 zero-filling its first four pixels — matching `synth_avi_dib`'s
    structure); 24/32-bit pixels are (g, (g+5)%256, (g+10)%256) RGB."""
    doc_id = int(doc_id)
    v = doc_id % 4
    w = 16 + (doc_id % 3) * 8
    h = 16

    def pal_bytes() -> bytes:
        out = bytearray()
        for i in range(256):
            out += bytes((
                (doc_id * 13 + i * 7) % 256,   # B
                (doc_id * 11 + i * 5) % 256,   # G
                (doc_id * 7 + i * 3) % 256,    # R
                0,
            ))
        return bytes(out)

    def g(y: int, x: int) -> int:
        return (doc_id * 31 + y * 17 + x * 7) % 256

    palette = b""
    if v == 0:  # 24-bit bottom-up
        bitcount, compression, h_field = 24, 0, h
        stride = (w * 3 + 3) // 4 * 4
        data = bytearray()
        for r in range(h - 1, -1, -1):  # bottom-up storage
            row = bytearray()
            for x in range(w):
                gv = g(r, x)
                row += bytes(((gv + 10) % 256, (gv + 5) % 256, gv))  # B,G,R
            row += b"\x00" * (stride - len(row))
            data += row
    elif v == 1:  # 8-bit palettized TOP-DOWN
        bitcount, compression, h_field = 8, 0, -h
        palette = pal_bytes()
        stride = (w + 3) // 4 * 4
        data = bytearray()
        for r in range(h):  # top-down storage = display order
            row = bytes(g(r, x) for x in range(w))
            data += row + b"\x00" * (stride - len(row))
    elif v == 2:  # BI_RLE8, bottom-up
        bitcount, compression, h_field = 8, 1, h
        palette = pal_bytes()
        data = bytearray()
        for sr in range(h):  # storage rows, bottom-up: display y = h-1-sr
            y = h - 1 - sr
            b0 = 0
            if y == 5:
                data += bytes((0, 2, 4, 0))
                b0 = 1
            for blk in range(b0, w // 4):
                val = (doc_id * 31 + y * 17 + blk * 7) % 256
                if blk % 2 == 0:
                    data += bytes((4, val))
                else:
                    data += bytes((0, 4, val, val, val, val))
            data += bytes((0, 0))
        data += bytes((0, 1))
    else:  # 32-bit bottom-up
        bitcount, compression, h_field = 32, 0, h
        data = bytearray()
        for r in range(h - 1, -1, -1):
            for x in range(w):
                gv = g(r, x)
                data += bytes(((gv + 10) % 256, (gv + 5) % 256, gv, 0xAA))
    pix_off = 14 + 40 + len(palette)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h_field, 1, bitcount, compression,
        len(data), 0, 0, 256 if palette else 0, 0,
    )
    file_hdr = b"BM" + struct.pack("<IHHI", pix_off + len(data), 0, 0, pix_off)
    return file_hdr + info + palette + bytes(data)


def ico_decode(payload: bytes, dim: int = 8) -> list[float]:
    """Windows ICO container codec for the `decode_features` seam: the
    ICONDIR header, the FIRST directory entry's image — either a
    complete embedded PNG (routed through `png_decode`) or the classic
    ICO DIB: a BITMAPINFOHEADER with DOUBLED biHeight covering the XOR
    color plane (bottom-up, 8-bit palettized or 24/32-bit) plus the
    1-bit AND mask (stride padded to 4 bytes). Masked-out pixels decode
    as black (0,0,0) — icons have no background to composite here; the
    convention is documented and mirrored by the fixture oracle. Emits
    the usual normalized Rec.601 integer-luma histogram. Truncated
    directories, bad types, and unsupported DIB layouts raise."""
    raw = bytes(payload)
    if len(raw) < 6:
        raise ValueError("ICO header truncated")
    reserved, ico_type, count = struct.unpack_from("<HHH", raw, 0)
    if reserved != 0 or ico_type not in (1, 2) or count == 0:
        raise ValueError(
            f"not an ICO/CUR (reserved={reserved}, type={ico_type}, "
            f"count={count})"
        )
    if len(raw) < 6 + 16:
        raise ValueError("ICO directory truncated")
    bw, bh = raw[6], raw[7]
    size, off = struct.unpack_from("<II", raw, 6 + 8)
    if off + size > len(raw):
        raise ValueError("ICO image data outside the file")
    img = raw[off:off + size]
    if img[:8] == b"\x89PNG\r\n\x1a\n":
        return png_decode(img, dim)
    if len(img) < 40:
        raise ValueError("ICO DIB header truncated")
    hdr_size, w, h2, _planes, bitcount, compression = struct.unpack_from(
        "<IiiHHI", img, 0
    )
    if hdr_size != 40 or compression != 0:
        raise NotImplementedError(
            f"ICO DIBs decode as plain BITMAPINFOHEADER BI_RGB here "
            f"(got size={hdr_size}, compression={compression})"
        )
    if h2 % 2:
        raise ValueError("ICO DIB height must be doubled (XOR + AND planes)")
    h = h2 // 2
    ew, eh = bw or 256, bh or 256
    if (w, h) != (ew, eh):
        raise ValueError(
            f"ICO DIB geometry {w}x{h} does not match the directory's "
            f"{ew}x{eh}"
        )
    pos = 40
    palette = None
    if bitcount == 8:
        (clr_used,) = struct.unpack_from("<I", img, 32)
        ncolors = clr_used or 256
        if pos + 4 * ncolors > len(img):
            raise ValueError("ICO DIB palette truncated")
        palette = [
            (img[pos + 4 * i + 2], img[pos + 4 * i + 1], img[pos + 4 * i])
            for i in range(ncolors)
        ]
        pos += 4 * ncolors
    elif bitcount not in (24, 32):
        raise NotImplementedError(
            f"ICO DIBs decode at 8/24/32 bits here (got {bitcount})"
        )
    bpp = bitcount // 8 if bitcount != 8 else 1
    xor_stride = (w * bpp + 3) // 4 * 4
    and_stride = ((w + 31) // 32) * 4
    if pos + xor_stride * h + and_stride * h > len(img):
        raise ValueError("ICO DIB pixel/mask data truncated")
    mask_base = pos + xor_stride * h
    counts = [0] * dim
    for sy in range(h):  # storage rows, bottom-up; orientation is
        row = pos + sy * xor_stride  # histogram-invisible anyway
        mrow = mask_base + sy * and_stride
        for x in range(w):
            if (img[mrow + (x >> 3)] >> (7 - (x & 7))) & 1:
                r = g = b = 0  # AND-masked: transparent -> black
            elif bitcount == 8:
                idx = img[row + x]
                r, g, b = palette[idx] if idx < len(palette) else (0, 0, 0)
            else:
                r = img[row + bpp * x + 2]
                g = img[row + bpp * x + 1]
                b = img[row + bpp * x]
            luma = (299 * r + 587 * g + 114 * b) // 1000
            counts[(luma * dim) >> 8] += 1
    return [c / (w * h) for c in counts]


def synth_ico(doc_id: int) -> bytes:
    """Deterministic ICO fixture, cycling doc%3: an embedded PNG entry
    (the full synth_png mix — every PNG layout rides inside the icon),
    an 8-bit palettized DIB with a NONTRIVIAL AND mask (bit set where
    (doc + y + x) % 7 == 0, display coordinates — those pixels decode
    black), and a 32-bit DIB with the mask clear and 0xAA reserved
    bytes. DIB geometry 16x16 (ICO directory bytes cap at 255);
    palette/pixel formulas are the synth_bmp_file family's."""
    doc_id = int(doc_id)
    v = doc_id % 3
    if v == 0:
        png = synth_png(doc_id)
        entry = struct.pack(
            "<BBBBHHII", 0, 0, 0, 0, 1, 32, len(png), 22
        )
        return struct.pack("<HHH", 0, 1, 1) + entry + png
    w = h = 16

    def g(y: int, x: int) -> int:
        return (doc_id * 31 + y * 17 + x * 7) % 256

    def masked(y: int, x: int) -> bool:
        return v == 1 and (doc_id + y + x) % 7 == 0

    if v == 1:  # 8-bit palettized + AND mask
        palette = bytearray()
        for i in range(256):
            palette += bytes((
                (doc_id * 13 + i * 7) % 256,
                (doc_id * 11 + i * 5) % 256,
                (doc_id * 7 + i * 3) % 256,
                0,
            ))
        xor = bytearray()
        for sy in range(h - 1, -1, -1):  # bottom-up
            xor += bytes(g(sy, x) for x in range(w))
        bitcount, body = 8, bytes(palette) + bytes(xor)
    else:  # 32-bit BGRX
        xor = bytearray()
        for sy in range(h - 1, -1, -1):
            for x in range(w):
                gv = g(sy, x)
                xor += bytes(((gv + 10) % 256, (gv + 5) % 256, gv, 0xAA))
        bitcount, body = 32, bytes(xor)
    and_plane = bytearray()
    for sy in range(h - 1, -1, -1):  # bottom-up mask rows
        bits = 0
        for x in range(w):
            if masked(sy, x):
                bits |= 1 << (15 - x)
        and_plane += struct.pack(">H", bits) + b"\x00\x00"  # stride 4
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, 2 * h, 1, bitcount, 0,
        len(body) + len(and_plane), 0, 0, 256 if bitcount == 8 else 0, 0,
    )
    img = info + body + bytes(and_plane)
    entry = struct.pack("<BBBBHHII", w, h, 0, 0, 1, bitcount, len(img), 22)
    return struct.pack("<HHH", 0, 1, 1) + entry + img


def avi_decode(payload: bytes, dim: int = 8) -> list[float]:
    """Real video codec for the `decode_features` seam — pure stdlib, no
    ffmpeg. Walks the RIFF chunk tree (hdrl → avih geometry + strf
    BITMAPINFOHEADER pixel format; movi → ``00db``/``00dc`` frames) and
    emits ``dim`` windowed features: feats[w] = sum of per-frame
    pixel-value sums for frames f with f*dim//n_frames == w.

    Pixel formats that decode: uncompressed BI_RGB DIB at 24-bit
    (per-frame sum of the raw pixel bytes, skipping each row's 4-byte
    alignment padding), 32-bit (B,G,R summed, the reserved byte
    skipped), and 8-bit palettized (indices expanded through the strf
    RGBQUAD palette); BI_RLE8 run-length compressed 8-bit frames (see
    `_decode_rle8`); and MJPEG (biCompression 'MJPG': each frame chunk
    is a complete baseline-or-progressive JPEG — decoded through
    operators/jpeg.jpeg_planes, per-frame sum over every sample of
    every decoded plane, with the SOF geometry validated against the
    container geometry). Anything else (cvid, xvid, h264...) raises
    NotImplementedError naming the fourcc — compressed video beyond
    MJPEG needs ffmpeg. Integer sums keep the output bit-stable across
    engines.

    Reference parity: the reference has no video path at all (media are
    opaque payloads); this is the brief's LLM-pipeline frame-sample /
    feature-extract stage, not a reference port.
    """
    raw = bytes(payload)
    if raw[:4] != b"RIFF" or len(raw) < 12 or raw[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI container")
    (riff_sz,) = struct.unpack_from("<I", raw, 4)
    end = min(8 + riff_sz, len(raw))

    def chunks(off: int, stop: int):
        while off + 8 <= stop:
            cid = raw[off:off + 4]
            (sz,) = struct.unpack_from("<I", raw, off + 4)
            yield cid, off + 8, sz
            off += 8 + sz + (sz & 1)  # chunks are word-aligned

    width = height = total_frames = None
    bitcount = compression = None
    palette: list[int] | None = None
    frame_spans: list[tuple[int, int]] = []
    for cid, off, sz in chunks(12, end):
        if cid != b"LIST":
            continue
        ltype = raw[off:off + 4]
        if ltype == b"hdrl":
            for c2, o2, s2 in chunks(off + 4, off + sz):
                if c2 == b"avih":
                    hdr = struct.unpack_from("<10I", raw, o2)
                    total_frames, width, height = hdr[4], hdr[8], hdr[9]
                elif c2 == b"LIST" and raw[o2:o2 + 4] == b"strl":
                    for c3, o3, s3 in chunks(o2 + 4, o2 + s2):
                        if c3 == b"strf":
                            bmi = struct.unpack_from("<IiiHHI", raw, o3)
                            bitcount, compression = bmi[4], bmi[5]
                            if s3 >= 40 and bitcount in (4, 8):
                                (clr_used,) = struct.unpack_from("<I", raw, o3 + 32)
                                ncolors = clr_used or (1 << bitcount)
                                pal_raw = raw[o3 + 40:o3 + min(s3, 40 + 4 * ncolors)]
                                if len(pal_raw) < 4 * ncolors:
                                    raise ValueError(
                                        f"palettized DIB strf palette truncated: "
                                        f"{len(pal_raw)} bytes for {ncolors} "
                                        f"RGBQUAD entries"
                                    )
                                # RGBQUAD is B,G,R,reserved: keep B+G+R
                                palette = [
                                    pal_raw[4 * i]
                                    + pal_raw[4 * i + 1]
                                    + pal_raw[4 * i + 2]
                                    for i in range(ncolors)
                                ]
        elif ltype == b"movi":
            for c2, o2, s2 in chunks(off + 4, off + sz):
                if c2[2:4] in (b"db", b"dc"):
                    frame_spans.append((o2, s2))
    if width is None or not frame_spans:
        raise ValueError("AVI missing avih header or movi frames")
    sums = []
    if compression == _MJPG_FOURCC:
        from financedatabase_spark.operators.jpeg import jpeg_planes

        for o, sz in frame_spans:
            fw, fh, planes = jpeg_planes(raw[o:o + sz])
            if (fw, fh) != (width, height):
                raise ValueError(
                    f"MJPEG frame geometry {fw}x{fh} does not match the "
                    f"container's {width}x{height}"
                )
            sums.append(sum(sum(p) for p in planes))
    elif compression == 0:
        # fail-loud truncation guard shared by every uncompressed layout:
        # a short frame chunk must quarantine as ValueError, never
        # silently under-sum (24/8-bit slice sums) or IndexError (32-bit)
        def check_span(sz: int, expected: int) -> None:
            if sz < expected:
                raise ValueError(
                    f"uncompressed DIB frame truncated: {sz} bytes for a "
                    f"{width}x{height} {bitcount}-bit frame needing "
                    f"{expected}"
                )

        if bitcount == 24:
            stride = (width * 3 + 3) // 4 * 4
            for o, sz in frame_spans:
                check_span(sz, stride * height)
                data = raw[o:o + sz]
                total = 0
                for r in range(height):
                    total += sum(data[r * stride:r * stride + width * 3])
                sums.append(total)
        elif bitcount == 32:
            # BI_RGB 32-bit is B,G,R,reserved per pixel, no row padding
            # (stride is naturally 4-aligned); the reserved byte is NOT
            # pixel data and stays out of the sum
            for o, sz in frame_spans:
                check_span(sz, 4 * width * height)
                data = raw[o:o + sz]
                total = 0
                for p in range(width * height):
                    total += data[4 * p] + data[4 * p + 1] + data[4 * p + 2]
                sums.append(total)
        elif bitcount == 8:
            if palette is None:
                raise ValueError("8-bit DIB frames need a strf palette")
            stride = (width + 3) // 4 * 4
            for o, sz in frame_spans:
                check_span(sz, stride * height)
                data = raw[o:o + sz]
                total = 0
                for r in range(height):
                    for b in data[r * stride:r * stride + width]:
                        total += palette[b] if b < len(palette) else 0
                sums.append(total)
        else:
            raise NotImplementedError(
                f"only 8-bit palettized, 24-bit and 32-bit uncompressed DIB "
                f"frames supported (got bitcount={bitcount})"
            )
    elif compression == 1:  # BI_RLE8
        if bitcount != 8 or palette is None:
            raise ValueError(
                f"BI_RLE8 requires 8-bit palettized frames "
                f"(got bitcount={bitcount}, palette={'yes' if palette else 'no'})"
            )
        for o, sz in frame_spans:
            idx = _decode_rle8(raw[o:o + sz], width, height)
            sums.append(sum(palette[b] if b < len(palette) else 0 for b in idx))
    elif compression == 2:  # BI_RLE4
        if bitcount != 4 or palette is None:
            raise ValueError(
                f"BI_RLE4 requires 4-bit palettized frames "
                f"(got bitcount={bitcount}, palette={'yes' if palette else 'no'})"
            )
        for o, sz in frame_spans:
            idx = _decode_rle4(raw[o:o + sz], width, height)
            sums.append(sum(palette[b] if b < len(palette) else 0 for b in idx))
    else:
        fourcc = compression.to_bytes(4, "little")
        raise NotImplementedError(
            f"only uncompressed DIB and MJPEG AVI frames supported "
            f"(got biCompression {fourcc!r}) — other codecs need ffmpeg"
        )
    if total_frames is not None and len(sums) != total_frames:
        raise ValueError(
            f"frame count mismatch: avih says {total_frames}, movi has {len(sums)}"
        )
    n = len(sums)
    feats = [0] * dim
    for f, s in enumerate(sums):
        feats[f * dim // n] += s
    return [float(v) for v in feats]


def pyav_video_decode(payload: bytes, dim: int = 8) -> list[float]:
    """Optional-dependency video codec for compressed formats beyond
    the stdlib AVI path (h264/mp4, vp9/webm, ...): PyAV — the ffmpeg
    bindings — when importable, the video analog of `pil_decode`'s
    Pillow seam. Decodes the first video stream frame by frame to
    rgb24, takes the integer per-frame pixel sum, and emits the same
    ``dim`` windowed features as `avi_decode` (feats[w] = sum of frame
    sums for frames f with f*dim//n == w), so the stdlib and ffmpeg
    paths share one feature contract. Raises NotImplementedError when
    PyAV is absent (this container ships no ffmpeg)."""
    try:
        import av  # noqa: F401 — optional dependency (PyAV / ffmpeg)
    except ImportError as exc:
        raise NotImplementedError(
            "compressed video needs PyAV/ffmpeg (pip install av), which is "
            "not importable here — supply a custom decode_fn"
        ) from exc
    sums: list[int] = []
    with av.open(BytesIO(bytes(payload))) as container:
        for frame in container.decode(video=0):
            arr = frame.to_ndarray(format="rgb24")
            sums.append(int(arr.astype("int64").sum()))
    if not sums:
        raise ValueError("video container decoded zero frames")
    n = len(sums)
    feats = [0] * dim
    for f, s in enumerate(sums):
        feats[f * dim // n] += s
    return [float(v) for v in feats]


def dispatch_decode(payload: bytes, media_type: str | None = None, dim: int = 8) -> list[float]:
    """Per-payload codec dispatch on `media_meta.media_type` (magic-byte
    sniff as fallback): audio/* → `wav_decode`; video/* → `avi_decode`
    for DIB/MJPEG AVI (always available, pure stdlib), falling through
    to `pyav_video_decode` for every compressed format — mp4/h264,
    webm, compressed-AVI fourccs — when PyAV is importable (else
    NotImplementedError, the documented optional-dependency seam);
    image/* → stdlib PNG/JPEG codecs, `pil_decode` for other formats
    when Pillow is importable."""
    mt = (media_type or "").lower()
    raw = bytes(payload)
    is_riff = raw[:4] == b"RIFF"
    is_wav = is_riff and raw[8:12] == b"WAVE"
    is_avi = is_riff and raw[8:12] == b"AVI "
    if mt.startswith("audio/") or (not mt and is_wav):
        return wav_decode(raw, dim)
    if mt.startswith("video/") or (not mt and is_avi):
        if is_avi:
            try:
                return avi_decode(raw, dim)
            except NotImplementedError as stdlib_exc:
                # compressed-AVI fourcc: the ffmpeg route, when present
                try:
                    return pyav_video_decode(raw, dim)
                except NotImplementedError as exc:
                    raise NotImplementedError(f"{stdlib_exc}; {exc}") from exc
        return pyav_video_decode(raw, dim)
    is_png = raw[:8] == b"\x89PNG\r\n\x1a\n"
    is_jpg = raw[:3] == b"\xff\xd8\xff"
    is_gif = raw[:6] in (b"GIF87a", b"GIF89a")
    is_tif = raw[:4] in (b"II*\x00", b"MM\x00*")
    is_webp = is_riff and raw[8:12] == b"WEBP"
    is_bmp = raw[:2] == b"BM"
    is_ico = raw[:4] in (b"\x00\x00\x01\x00", b"\x00\x00\x02\x00")
    if mt.startswith("image/") or (
        not mt
        and (is_png or is_jpg or is_gif or is_tif or is_webp or is_bmp or is_ico)
    ):
        if is_png:
            return png_decode(raw, dim)
        if is_jpg:
            from financedatabase_spark.operators.jpeg import jpeg_decode

            return jpeg_decode(raw, dim)
        if is_gif:
            from financedatabase_spark.operators.gif import gif_decode

            return gif_decode(raw, dim)
        if is_tif:
            from financedatabase_spark.operators.tiff import tiff_decode

            return tiff_decode(raw, dim)
        if is_riff and raw[8:12] == b"WEBP":
            from financedatabase_spark.operators.webp import webp_decode

            return webp_decode(raw, dim)
        if raw[:2] == b"BM":
            return bmp_decode(raw, dim)
        if raw[:4] in (b"\x00\x00\x01\x00", b"\x00\x00\x02\x00"):
            return ico_decode(raw, dim)
        try:
            return pil_decode(raw, dim)
        except ImportError as exc:
            raise NotImplementedError(
                "non-PNG/JPEG image payloads need Pillow, which is not importable here"
            ) from exc
    raise NotImplementedError(
        f"no codec for media_type {media_type!r} in this environment "
        "(supply a custom decode_fn)"
    )


def default_decode() -> Callable[[bytes], list[float]] | None:
    """The best GENERAL image codec this environment offers: PIL-backed
    when Pillow is importable, else None (callers fall back to
    `fake_decode` for tests or get NotImplementedError on real
    payloads). PNG payloads never need this seam — `png_decode` is pure
    stdlib. For mixed-modality frames use `dispatch_decode` with
    ``pass_media_type=True``; its audio/AVI/PNG/JPEG paths need no
    extra library (compressed video routes through PyAV when
    importable, see `pyav_video_decode`)."""
    try:
        import PIL  # noqa: F401

        return pil_decode
    except ImportError:
        return None


def fake_decode(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in codec: byte-value histogram over ``dim``
    equal bins, normalized — stable across runs/engines, no library
    needed. Used by tests to exercise the mapInPandas contract."""
    counts = [0] * dim
    for byte in payload:
        counts[byte * dim // 256] += 1
    total = max(len(payload), 1)
    return [c / total for c in counts]


def grid_resize(
    plane: list[int], w: int, h: int, gw: int = 8, gh: int = 8
) -> list[int]:
    """Box-average downsample of one row-major plane to a gw x gh grid —
    the pure-stdlib `resize` stage of the multimodal pipeline (the
    PIL-free path; `pil_decode` uses Pillow's resampler when that
    library exists). Box (bx, by) covers x in [bx*w//gw, (bx+1)*w//gw)
    and y likewise; the cell value is the INTEGER mean (floor) of its
    pixels, so a SQL oracle reproduces it exactly. Requires gw <= w and
    gh <= h (upsampling is a different contract)."""
    if gw > w or gh > h:
        raise ValueError(f"grid_resize: grid {gw}x{gh} exceeds image {w}x{h}")
    out = []
    for by in range(gh):
        y0, y1 = by * h // gh, (by + 1) * h // gh
        for bx in range(gw):
            x0, x1 = bx * w // gw, (bx + 1) * w // gw
            total = 0
            for y in range(y0, y1):
                row = plane[y * w:(y + 1) * w]
                total += sum(row[x0:x1])
            out.append(total // ((x1 - x0) * (y1 - y0)))
    return out


def frame_sample_plan(
    df: DataFrame, every_n: int = 10, id_col: str = "doc_id", frame_col: str = "frame_idx"
) -> DataFrame:
    """Frame-sampling plumbing for video rows exploded to frames: keep
    every n-th frame — pure relational filter (the decode of kept frames
    happens in `decode_features`)."""
    return df.filter((F.col(frame_col) % every_n) == 0)


def spread_ids(df: DataFrame) -> DataFrame:
    """Repartition an ID-ONLY frame to the session's default parallelism
    before a synth/decode mapInPandas stage. A media table staged as few
    files otherwise serializes the Python codec work onto as many cores
    as there are input splits (observed: the 50x documents table is one
    parquet file → one partition → single-core decode). Shuffling 8-byte
    ids costs nothing; the payloads themselves are SYNTHESIZED after the
    exchange, so the zero-payload-shuffle property of the decode
    pipeline is preserved. Real media tables with many files don't need
    this — it is the id-driven generator stages that do."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)
