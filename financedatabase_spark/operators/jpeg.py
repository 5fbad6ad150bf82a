"""Pure-stdlib JPEG codec (ITU-T T.81) for the multimodal decode seam.

The container has no Pillow, so non-PNG images were a documented
NotImplementedError seam. This module decodes every T.81 process —
sequential and progressive DCT, lossless and hierarchical, each under
Huffman or arithmetic coding — for grayscale and 3-component YCbCr
frames at any legal sampling, and encodes the deterministic fixtures
(`synth_jpeg*`) that the registered image queries decode. The
baseline decode path: marker parse, canonical Huffman decode with
0xFF00 byte un-stuffing, per-position dequantization, de-zigzag,
separable 8x8 IDCT, level shift and clamp, chroma upsampling, and
restart intervals (DRI/RSTn — byte-aligned predictor resets, the
segmentation every hardware encoder emits). 0xFF fill bytes may
precede any marker (T.81 B.1.1.2), between segments as after a scan.

Encode structure: the fixture encoder mirrors the decoder in four
parts. Every assembler (`assemble_jpeg`, `assemble_jpeg_color`,
`assemble_jpeg_progressive`, `assemble_jpeg_lossless`,
`assemble_jpeg_hierarchical`) lists its header segments, in one fixed
order, through one segment writer (`_segments`); ``arith=True`` swaps
the Huffman tables for a DAC segment and the QM-coder. One MCU-order
rule (`_scan_order`, which the decoder's block walker uses too) lays
out interleaved, non-interleaved (A.2.2) and partial subset scans at
any sampling, for the sequential scans and the progressive DC scans
alike. One scan loop (`_scan`) alone cuts a scan into restart
intervals: flush, cycling RSTn, coder restart. A coder, `_HuffCoder`
or `_ArithCoder` (the twins of `_HuffScan` / `_ArithScan`), supplies
one step per scan kind: sequential block, DC first / refinement, AC
first / refinement, lossless difference. Hierarchical frames go
through the same sequential and lossless scan writers.
`_BitWriter.put` packs a whole code (and its appended bits) per call.

Progressive DCT (SOF2) decodes for real too — a large share of web
JPEGs are progressive, so a crawl-facing multimodal stage cannot stop
at baseline. Supported per T.81 Annex G: spectral selection (per-band
single-component AC scans), successive approximation (DC point
transform + AC magnitude-plane ladders), DC first/refinement scans
(interleaved or single-component), AC first scans with cross-block
EOBRUN (EOBn) coding, AC refinement scans with correction bits, and
restart markers inside progressive scans (predictors AND EOB run
reset).

Decode structure: every DCT frame decodes in two phases, whatever its
process. Phase one (`jpeg_coefficients`) entropy-decodes each scan —
sequential or progressive, Huffman or arithmetic, interleaved,
partially interleaved or one-component — into ONE per-component store
of quantized zigzag coefficients over the frame's MCU block grid. One
SOS-header parser (`_parse_dct_sos`) validates every DCT scan, one
block walker (`JpegCoefficients.walk`) visits its blocks in T.81 A.2 order
(`_scan_order`, shared with the encoder) and calls the coder's restart
step every Ri MCUs, and the coder
(`_HuffScan` / `_ArithScan`) supplies the one entropy step the scan
kind needs. Each component latches its quant table at its first scan,
as libjpeg does, so a DQT that later redefines the slot does not
change it. Phase two (`_reconstruct`) runs once at EOI: dequantize,
IDCT at the frame precision, crop and upsample.

Color layouts: every T.81-legal YCbCr sampling grid decodes — the
standard 4:4:4 / 4:2:2 / 4:4:0 / 4:2:0, the exotic factors (3x1, 4x1,
1x3, 4x2 / 4:1:1; factors 1-4, at most 10 blocks per interleaved MCU)
and non-integer replication ratios such as 3x1 Y against 2x1 chroma:
the MCU walk, plane allocation and upsampler (the A.1.1 map
x -> x*hs//hmax) are sampling-generic. Quant tables parse in both DQT
precisions (8-bit Pq=0 and 16-bit big-endian Pq=1).

Non-interleaved SEQUENTIAL multi-scan streams decode too (one
full-band scan per component over its ceil(comp_size/8) grid, a
missing component scan failing loudly at EOI), and so
does the LOSSLESS Huffman process (SOF3, T.81 Annex H): all seven
Annex H predictors, DC-category-coded differences, modulo-2^16
reconstruction — precision-generic (2-16 bits per sample), so deep
12/16-bit images are exact there — including MULTI-COMPONENT streams
(one sequential single-component scan per plane, accumulating to EOI)
and the POINT TRANSFORM (Al > 0: samples coded at P-Al bits, output
shifted back up). Extended-sequential SOF1 decodes at
both of its legal precisions: 8-bit (bitstream-identical to baseline)
and 12-bit (precision-generic level shift/clamp, Annex F extended
coefficient categories); the arithmetic SOF9 and SOF10 frames take
12-bit samples too. Sequential subset scans decode in BOTH
layouts: non-interleaved (one component per scan, A.2.2 grid) and
PARTIALLY interleaved (2-3 components per scan interleaving inside the
frame MCU grid, A.2.3). ARITHMETIC-coded extended sequential frames
(SOF9 + DAC) decode for real via the T.81 Annex D QM-coder in
operators/jpeg_arith.py (Table D.3 state machine, Annex F DC/AC
conditioning, restart re-initialization — cross-validated in both
directions against libjpeg), in ALL THREE sequential scan layouts
(fully interleaved, non-interleaved scan-per-component, and partially
interleaved subset scans, each with per-scan coder/statistics) — and
so do
ARITHMETIC PROGRESSIVE frames (SOF10): the full Annex G scan taxonomy
(interleaved/single-component DC first + fixed-state refinement bits,
single-component AC band first + G.2.2 correction passes) over the
same QM-coder, per-scan statistics, also libjpeg-cross-validated both
directions. NON-INTEGER
replication samplings (e.g. 3x1 Y against 2x1 chroma, ratio 3/2)
decode via the A.1.1 sample-grid map x -> x*hs//hmax in all three
sequential layouts (Huffman AND arithmetic). Lossless streams decode
in BOTH layouts too —
non-interleaved scan-per-plane and fully INTERLEAVED (MCU = one sample
per component) — with whole-row RESTART intervals (each interval's
first line restarts prediction at default + Ra per H.1.1, so intervals
decode independently; mid-row intervals are refused loudly). The
ARITHMETIC LOSSLESS process (SOF11) decodes through the same QM-coder
under the Annex H statistical model (25 two-dimensional (Da, Db)
contexts over the DC decision tree, dual magnitude ladders selected by
the Db class — Table H.2; see jpeg_arith.decode_lossless_diff_arith
for the documented row/column reading). HIERARCHICAL sequences (T.81
Annex J) decode via `_decode_hierarchical`: DHP-declared pyramids of
frames, EXP reference expansion (the J.1.1.2 interpolation filter in
`_exp2x`), and all six DIFFERENTIAL processes (SOF5/6/7/13/14/15) by
translating each frame to its non-differential sibling with the level
shift / lossless prediction disabled and combining against the
reference components (DCT differences clamped, lossless differences
mod 2^16). With that, every SOF process in T.81 decodes; the remaining
in-module NotImplementedError sites are parameter gates (component
counts, MCU limits), not missing processes.

Fixture exactness: JPEG is lossy in general, but the fixtures are built
from coefficient patterns whose IDCT is integral — constant blocks
(DC-only) and a ±1 horizontal basis (the u=4 row-frequency whose
cos((2x+1)·4π/16) values are ±√2/2, so a coefficient of 8d contributes
exactly ±d per pixel). Decode therefore reproduces the synthesis
formula bit-for-bit, which is what lets the DuckDB oracle recompute the
histogram analytically (see plans/queries_documents.py
`multimodal_jpeg_features`).

Performance: the decode kernel must stay bit-exact with the plain
separable float IDCT. The fixture oracles and the DuckDB digests of the
image queries are computed from exact pixels, so there is no fast
approximate (AAN or integer) IDCT here: its rounding differs.
`_idct_block` instead hoists each coefficient product out of the output
loops (the same products, summed in the same order from 0.0), repeats
one output row when rows 1-7 are zero and returns a constant for an
all-zero block; de-zigzag is one gather through `_UNZIGZAG`;
`_crop_planes` slices full-width rows and maps subsampled columns once
per plane. On a 4-vCPU x86 VM under CPython 3.11, decoding the 5000
`synth_jpeg` documents of the sf0.1 corpus went from 4.3 to 1.4 CPU-s
(median of nine timings each), and the IDCT's share of decode time
under cProfile from 51 % to about 18 %. Of what is left, the
bit-at-a-time Huffman reader (`_BitReader.bit`, `_HuffDec.decode`)
takes about 17 %, the frame parse and block walk about 15 % and the
histogram about 8 %. In `multimodal_jpeg_features` the Python workers'
CPU per call fell from 8.6 to 5.0 s (perfbench corpus_curation,
traced, median of three runs each); besides decode it
holds fixture encoding (`synth_jpeg`, about 0.6 s) and a fixed cost per
Python task. The op runs 8 tasks per call on 4 cores (two chained
`mapInPandas` over 4 partitions), and each task cost ~0.25 CPU-s,
most of it `importlib.invalidate_caches()` re-reading the zip
directories on the worker path. The engine's worker daemon
(`financedatabase_spark/pydaemon.py`) skips that re-read (~0.04 CPU-s
per task), and the op's worker CPU per call fell from 5.3 to 3.4 s
(traced, two runs each) and its whole CPU per call from 5.7 to 4.1 s
(untraced, medians of ten runs each). Encoding and decoding the same
5000 documents in one process takes 3.2-3.3 CPU-s.

Reference parity: the reference has no media path at all — nothing
under /root/reference parses image bytes; this is the brief's
LLM-pipeline image stage, not a port of anything.
"""

from __future__ import annotations

import math
import struct
from typing import Callable

from financedatabase_spark.operators.jpeg_arith import (
    LL_STAT_BINS,
    ArithDecoder,
    ArithEncoder,
    ArithStats,
    decode_ac_first_arith,
    decode_ac_refine_arith,
    decode_block_arith,
    decode_dc_arith,
    decode_lossless_diff_arith,
    encode_ac_first_arith,
    encode_ac_refine_arith,
    encode_block_arith,
    encode_dc_arith,
    encode_lossless_diff_arith,
    ll_classify,
)

# -- constants (ITU-T T.81 Annex K: public spec tables) ----------------------

#: zigzag index -> raster index (row*8 + col)
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]
#: raster index -> zigzag index, so de-zigzag is one gather
_UNZIGZAG = sorted(range(64), key=ZIGZAG.__getitem__)
#: the 63 AC coefficients of a DC-only block (never mutated)
_AC_ZERO = [0] * 63

#: Annex K luminance DC table: (#codes per length 1..16, symbol list)
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))

#: Annex K luminance AC table
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
assert sum(DC_BITS) == len(DC_VALS)
assert sum(AC_BITS) == len(AC_VALS) == 162

#: Lossless-process difference-category table: categories 0..16 (T.81
#: H.1.2.2 allows SSSS up to 16, where 16 carries no appended bits and
#: means diff 32768). All 17 symbols at code length 5 — a valid canonical
#: table (17/32 < 1) that any category can appear under, unlike the
#: Annex K DC table's 0..11.
LL_BITS = [0, 0, 0, 0, 17, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
LL_VALS = list(range(17))
assert sum(LL_BITS) == len(LL_VALS) == 17

#: IDCT basis: COS[u][x] = cos((2x+1)uπ/16), C[u] = 1/√2 for u=0 else 1
_COS = [[math.cos((2 * x + 1) * u * math.pi / 16) for x in range(8)] for u in range(8)]
_C = [1 / math.sqrt(2)] + [1.0] * 7
assert _COS[0] == [1.0] * 8  # the row-0-only shortcut in _idct_block


class _CodeTable(dict):
    """symbol -> (code, length) of one encoder Huffman table. A symbol
    without a code is a value outside the table: the lookup raises a
    ValueError naming the table and the category instead of a bare
    KeyError."""

    def __init__(self, name: str, ac: bool, codes: dict[int, tuple[int, int]]) -> None:
        super().__init__(codes)
        self.name, self.ac = name, ac

    def __missing__(self, sym: int):
        what = f"run {sym >> 4}, category {sym & 15}" if self.ac else f"category {sym}"
        raise ValueError(f"value outside the {self.name} Huffman table: no code for {what}")


def _canonical_codes(bits: list[int], vals: list[int], name: str, ac: bool) -> _CodeTable:
    """symbol -> (code, length), canonical Huffman per T.81 C.2."""
    codes: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return _CodeTable(name, ac, codes)


_DC_ENC = _canonical_codes(DC_BITS, DC_VALS, "Annex K DC", ac=False)
_AC_ENC = _canonical_codes(AC_BITS, AC_VALS, "Annex K AC", ac=True)
_LL_ENC = _canonical_codes(LL_BITS, LL_VALS, "lossless", ac=False)


def _lossless_predict(
    samples: list[int], w: int, x: int, y: int, predictor: int, prec: int,
    row0: int = 0,
) -> int:
    """T.81 Annex H.1.1 sample prediction over the already-reconstructed
    row-major ``samples``: the very first sample predicts 2^(P-1), the
    rest of the first line uses Ra (left), the first column uses Rb
    (above), and interior samples use the scan-selected predictor 1-7.
    ``row0`` is the first row of the current RESTART INTERVAL: per
    H.1.1 the interval's first line behaves like the scan's first line
    (default + Ra), so an interval never references samples across the
    restart boundary and stays independently decodable — the point of
    restarts. Shifts are arithmetic (Python ``>>`` floors negatives),
    matching the spec's one-bit right shift on two's-complement
    values."""
    if y == row0 and x == 0:
        return 1 << (prec - 1)
    if y == row0:
        return samples[y * w + x - 1]
    if x == 0:
        return samples[(y - 1) * w]
    a = samples[y * w + x - 1]
    b = samples[(y - 1) * w + x]
    c = samples[(y - 1) * w + x - 1]
    if predictor == 1:
        return a
    if predictor == 2:
        return b
    if predictor == 3:
        return c
    if predictor == 4:
        return a + b - c
    if predictor == 5:
        return a + ((b - c) >> 1)
    if predictor == 6:
        return b + ((a - c) >> 1)
    return (a + b) >> 1  # predictor 7


def _scan_order(
    w: int, h: int, samplings: list[tuple[int, ...]], blocks: list[list], scan: list[int],
) -> tuple[list[tuple[int, list[int]]], int]:
    """The codec's one MCU-order rule, for the decoder's block walker and
    the encoder's scan loop alike: (the scan's (scan component index,
    block) pairs in T.81 A.2 order, blocks per MCU). ``samplings[c]``
    starts with frame component c's (hs, vs); ``blocks[c]`` is its flat
    block list over the frame's padded MCU grid, mcus_x * hs blocks per
    row; ``scan`` names the scan's components by frame index. An
    interleaved scan (ns > 1, full or partial) walks the frame MCU grid,
    each MCU holding hs x vs blocks per scan component (A.2.3); a
    one-component scan's MCU is one block over the component's
    ceil(ceil(dim * sampling / max sampling) / 8) grid (A.2.2), smaller
    than the padded MCU grid when the geometry pads an MCU."""
    hmax = max(s[0] for s in samplings)
    vmax = max(s[1] for s in samplings)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    if len(scan) > 1:
        n_x, n_y = mcus_x, mcus_y
        members = []  # (scan index, blocks, offset in MCU, hs, MCU row stride)
        for si, ci in enumerate(scan):
            hs, vs = samplings[ci][:2]
            stride = mcus_x * hs
            members += [
                (si, blocks[ci], byy * stride + bxx, hs, vs * stride)
                for byy in range(vs)
                for bxx in range(hs)
            ]
    else:
        hs, vs = samplings[scan[0]][:2]
        n_x = ((w * hs + hmax - 1) // hmax + 7) // 8
        n_y = ((h * vs + vmax - 1) // vmax + 7) // 8
        members = [(0, blocks[scan[0]], 0, 1, mcus_x * hs)]
    order = [
        (si, comp_blocks[my * row_stride + mx * hs + off])
        for my in range(n_y)
        for mx in range(n_x)
        for si, comp_blocks, off, hs, row_stride in members
    ]
    return order, len(members)


# -- encoder (fixture synthesis; see "Encode structure" above) ---------------

class _BitWriter:
    """MSB-first bit packer with 0xFF byte stuffing (T.81 F.1.2.3)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def put(self, value: int, nbits: int) -> None:
        """Append the low ``nbits`` bits of ``value``, a whole code (or a
        code and its appended bits) at a time."""
        acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        n = self._n + nbits
        out = self.out
        while n >= 8:
            n -= 8
            b = (acc >> n) & 0xFF
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
        self._acc = acc & ((1 << n) - 1)
        self._n = n

    def flush(self) -> bytes:
        """Pad the last byte with 1-bits and hand over (and clear) the
        bytes written so far."""
        if self._n:
            self.put((1 << (8 - self._n)) - 1, 8 - self._n)
        out, self.out = bytes(self.out), bytearray()
        return out


def _mag_bits(v: int) -> tuple[int, int]:
    """(category, appended bits) for a DC diff / AC value (T.81 F.1.2)."""
    if v == 0:
        return 0, 0
    size = abs(v).bit_length()
    return size, v if v > 0 else v + (1 << size) - 1


#: JFIF APP0 payload: version 1.1, aspect-ratio units, 1:1 density
_APP0 = b"JFIF\x00" + bytes([1, 1, 0, 0, 1, 0, 1, 0, 0])


def _segments(*segs: tuple[int, bytes] | None) -> bytes:
    """The encoder's one segment writer: each (marker, payload) pair as
    0xFF marker, 2-byte length, payload, in the order listed. A falsy
    entry (an optional segment left out) writes nothing."""
    out = b""
    for seg in segs:
        if seg:
            marker, payload = seg
            out += struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload
    return out


def _sof(prec: int, w: int, h: int, comps: list[tuple]) -> bytes:
    """Frame header payload (SOFn and DHP, T.81 B.2.2 / B.3.2); component
    i gets id i + 1 and its (hs, vs, quant table) from ``comps``."""
    return struct.pack(">BHHB", prec, h, w, len(comps)) + b"".join(
        bytes([i + 1, (hs << 4) | vs, tq]) for i, (hs, vs, tq, *_) in enumerate(comps)
    )


def _dqt(tables: list[list[int]], wide: bool = False) -> bytes:
    """DQT payload: table i in slot i, 8-bit entries or, ``wide``, 16-bit
    big-endian ones (Pq=1, T.81 B.2.4.1)."""
    if wide:
        return b"".join(
            bytes([0x10 | i]) + struct.pack(">64H", *qt) for i, qt in enumerate(tables)
        )
    return b"".join(bytes([i]) + bytes(qt) for i, qt in enumerate(tables))


def _dht(tc_th: int, bits: list[int], vals: list[int]) -> bytes:
    return bytes([tc_th]) + bytes(bits) + bytes(vals)


#: the DAC conditioning of the DCT fixtures — DC (L, U) = (0, 1), AC
#: Kx = 5, the T.81 defaults — on statistics bank 0, and on banks 0 and 1
#: (luma, chroma) in the sequential color frames
_DCT_COND = {("dc", 0): (0, 1), ("ac", 0): 5}
_DCT_COND_COLOR = {("dc", 0): (0, 1), ("dc", 1): (0, 1), ("ac", 0): 5, ("ac", 1): 5}


def _dac(cond: dict) -> bytes:
    """DAC payload (T.81 B.2.4.3) declaring ``cond`` — ("dc", id) ->
    (L, U), ("ac", id) -> Kx, the mapping the decoder builds and
    `_ArithCoder` codes under."""
    out = bytearray()
    for (kind, tbl), v in cond.items():
        out += bytes([tbl, (v[1] << 4) | v[0]] if kind == "dc" else [0x10 | tbl, v])
    return bytes(out)


def _sos(comps: list[tuple[int, int, int]], ss: int, se: int, ah: int, al: int) -> bytes:
    """SOS payload: (component id, DC table, AC table) per scan
    component, then Ss, Se, Ah/Al."""
    body = [len(comps)]
    for cs, td, ta in comps:
        body += (cs, (td << 4) | ta)
    return bytes(body + [ss, se, (ah << 4) | al])


def _scan(
    coder: _HuffCoder | _ArithCoder, step: Callable[[list], None], units: list,
    span: int,
) -> bytes:
    """The one restart loop of the encoder: hand ``step`` the scan's
    units — (scan component index, block) pairs, or sample rows for a
    lossless scan — ``span`` units (one restart interval) at a time;
    between intervals flush the coder, write RSTn (n cycling 0-7) and
    restart the coder (T.81 E.2.4, F.1.2.3, F.1.4.4). ``span`` 0 codes
    the scan as one interval."""
    out = b""
    span = span or len(units) or 1
    for start in range(0, len(units), span):
        if start:
            out += coder.flush() + bytes([0xFF, 0xD0 + (start // span - 1) % 8])
            coder.restart()
        step(units[start:start + span])
    return out + coder.flush()


class _HuffCoder:
    """Huffman entropy state of one scan (T.81 Annex F/G/H), twin of the
    decoder's `_HuffScan`: the bit writer, one DC predictor per scan
    component, and the progressive EOB run with the correction bits
    owed by the refinement blocks inside it (G.1.2.3). ``dc`` / ``ac``
    map a symbol to its (code, length); every scan component codes
    with that pair. Each step codes one restart interval's units."""

    def __init__(
        self, ncomp: int, dc: dict, ac: dict | None = None, ss: int = 0,
        se: int = 63, al: int = 0,
    ) -> None:
        self.w = _BitWriter()
        self.dc, self.ac = dc, ac
        self.ss, self.se, self.al = ss, se, al
        self.preds = [0] * ncomp
        self.eobrun = 0
        self.owed: list[int] = []

    def restart(self) -> None:
        self.preds = [0] * len(self.preds)

    def flush(self) -> bytes:
        if self.eobrun or self.owed:
            self._end_eobrun()
        return self.w.flush()

    def _end_eobrun(self) -> None:
        """Emit the pending EOB run as one EOBn symbol, then the
        correction bits owed by its blocks."""
        put = self.w.put
        if self.eobrun:
            r = self.eobrun.bit_length() - 1
            code, length = self.ac[r << 4]
            put((code << r) | (self.eobrun - (1 << r)), length + r)
            self.eobrun = 0
        for b in self.owed:
            put(b, 1)
        self.owed = []

    def _count_eob(self) -> None:
        self.eobrun += 1
        if self.eobrun == 0x7FFF:
            self._end_eobrun()

    def sequential(self, run: list[tuple[int, list[int]]]) -> None:
        """Whole blocks: DC difference, then AC run-lengths with ZRL
        and EOB (F.1.2)."""
        put, dc, ac, preds = self.w.put, self.dc, self.ac, self.preds
        zrl = ac[0xF0]
        for si, bz in run:
            size, bits = _mag_bits(bz[0] - preds[si])
            preds[si] = bz[0]
            code, length = dc[size]
            put((code << size) | bits, length + size)
            last_nz = 0
            for i in range(63, 0, -1):
                if bz[i]:
                    last_nz = i
                    break
            run_len = 0
            for i in range(1, last_nz + 1):
                if bz[i] == 0:
                    run_len += 1
                    continue
                while run_len >= 16:
                    put(*zrl)
                    run_len -= 16
                size, bits = _mag_bits(bz[i])
                code, length = ac[(run_len << 4) | size]
                put((code << size) | bits, length + size)
                run_len = 0
            if last_nz != 63:
                put(*ac[0x00])

    def dc_first(self, run: list[tuple[int, list[int]]]) -> None:
        """Progressive DC first: the point-transformed DC (arithmetic
        shift right by Al) coded against its predictor (G.1.2.1)."""
        put, dc, preds, al = self.w.put, self.dc, self.preds, self.al
        for si, bz in run:
            v = bz[0] >> al
            size, bits = _mag_bits(v - preds[si])
            preds[si] = v
            code, length = dc[size]
            put((code << size) | bits, length + size)

    def dc_refine(self, run: list[tuple[int, list[int]]]) -> None:
        """Progressive DC refinement: bit Al of each DC, raw (G.1.2.1)."""
        put, al = self.w.put, self.al
        for _si, bz in run:
            put((bz[0] >> al) & 1, 1)

    def ac_first(self, run: list[tuple[int, list[int]]]) -> None:
        """Progressive AC first (G.1.2.2): sign * (|coef| >> Al) over
        the band with run-length and cross-block EOBn coding."""
        put, ac, ss, se, al = self.w.put, self.ac, self.ss, self.se, self.al
        for _si, bz in run:
            vals = []
            last = -1
            for k in range(ss, se + 1):
                v = bz[k]
                mag = (v if v >= 0 else -v) >> al
                vals.append(0 if mag == 0 else (mag if v > 0 else -mag))
                if mag:
                    last = k - ss
            if last < 0:
                self._count_eob()
                continue
            self._end_eobrun()
            run_len = 0
            for i in range(last + 1):
                v = vals[i]
                if v == 0:
                    run_len += 1
                    continue
                while run_len >= 16:
                    put(*ac[0xF0])
                    run_len -= 16
                size, bits = _mag_bits(v)
                code, length = ac[(run_len << 4) | size]
                put((code << size) | bits, length + size)
                run_len = 0
            if last < se - ss:
                self._count_eob()

    def ac_refine(self, run: list[tuple[int, list[int]]]) -> None:
        """Progressive AC refinement (G.1.2.3): a newly nonzero
        coefficient (|coef| >> Al == 1) gets a run symbol and sign bit;
        a previously nonzero one gets a correction bit, written after
        the next symbol or after the EOBn that covers its block."""
        put, ac, ss, se, al = self.w.put, self.ac, self.ss, self.se, self.al
        for _si, bz in run:
            absvals = []
            eobpos = -1
            for k in range(ss, se + 1):
                t = bz[k]
                t = (t if t >= 0 else -t) >> al
                absvals.append(t)
                if t == 1:
                    eobpos = k - ss
            run_len = 0
            br: list[int] = []
            for i, t in enumerate(absvals):
                if t == 0:
                    run_len += 1
                    continue
                while run_len > 15 and i <= eobpos:
                    self._end_eobrun()
                    put(*ac[0xF0])
                    run_len -= 16
                    for b in br:
                        put(b, 1)
                    br = []
                if t > 1:
                    br.append(t & 1)
                    continue
                self._end_eobrun()
                code, length = ac[(run_len << 4) | 1]
                put((code << 1) | (1 if bz[ss + i] >= 0 else 0), length + 1)
                for b in br:
                    put(b, 1)
                br = []
                run_len = 0
            if run_len > 0 or br:
                self.owed.extend(br)
                self._count_eob()

    def lossless(self, rows: list[list[tuple[int, ...]]]) -> None:
        """Lossless differences (H.1.2): each mod-2^16 difference mapped
        into [-32767, 32768] and category-coded like a DC difference;
        +32768 is category 16 with no appended bits, the only form that
        stays within 16 categories when 16-bit predictions overshoot."""
        put, table = self.w.put, self.dc
        for row in rows:
            for mcu in row:
                for d in mcu:
                    if d > 32768:
                        d -= 65536
                    if d == 32768:
                        put(*table[16])
                        continue
                    size, bits = _mag_bits(d)
                    code, length = table[size]
                    put((code << size) | bits, length + size)


class _ArithCoder:
    """Arithmetic twin of `_HuffCoder` (the T.81 Annex D QM-coder under
    the Annex F/G/H models), twin of the decoder's `_ArithScan`: a fresh
    encoder and statistics area per scan and per restart interval.
    ``tds`` / ``tas`` name each scan component's DC / AC statistics
    bank; ``cond`` is the conditioning the stream's DAC declares."""

    def __init__(
        self, tds: list[int], tas: list[int], cond: dict, ss: int = 0,
        se: int = 63, ah: int = 0, al: int = 0,
    ) -> None:
        self.tds, self.tas, self.cond = tds, tas, cond
        self.ss, self.se, self.ah, self.al = ss, se, ah, al
        self.restart()

    def restart(self) -> None:
        self.enc = ArithEncoder()
        self.stats = ArithStats(len(self.tds))
        self.ll_bank = bytearray(LL_STAT_BINS)

    def flush(self) -> bytes:
        return self.enc.finish()  # D.1.8; `restart` makes a new encoder

    def sequential(self, run: list[tuple[int, list[int]]]) -> None:
        enc, stats, tds, tas, cond = self.enc, self.stats, self.tds, self.tas, self.cond
        for si, bz in run:
            encode_block_arith(enc, stats, si, tds[si], tas[si], cond, bz)

    def dc_first(self, run: list[tuple[int, list[int]]]) -> None:
        enc, stats, tds, cond, al = self.enc, self.stats, self.tds, self.cond, self.al
        for si, bz in run:
            encode_dc_arith(enc, stats, si, tds[si], cond, bz[0] >> al)

    def dc_refine(self, run: list[tuple[int, list[int]]]) -> None:
        enc, fixed, al = self.enc, self.stats.fixed, self.al
        for _si, bz in run:
            enc.encode(fixed, 0, (bz[0] >> al) & 1)

    def ac_first(self, run: list[tuple[int, list[int]]]) -> None:
        enc, stats, ta, ss, se, al = (
            self.enc, self.stats, self.tas[0], self.ss, self.se, self.al
        )
        for _si, bz in run:
            encode_ac_first_arith(enc, stats, ta, self.cond, bz, ss, se, al)

    def ac_refine(self, run: list[tuple[int, list[int]]]) -> None:
        enc, stats, ta, ss, se, ah, al = (
            self.enc, self.stats, self.tas[0], self.ss, self.se, self.ah, self.al
        )
        for _si, bz in run:
            encode_ac_refine_arith(enc, stats, ta, bz, ss, se, ah, al)

    def lossless(self, rows: list[list[tuple[int, ...]]]) -> None:
        """Lossless differences (H.1.2 over the F.1.4.1 DC tree), mapped
        into [-32768, 32767] and conditioned on the differences coded to
        the left (Da) and above (Db, 0 on an interval's first row); all
        scan components share statistics table ``tds[0]``'s one bank."""
        enc, bank, ns = self.enc, self.ll_bank, len(self.tds)
        low, up = self.cond.get(("dc", self.tds[0]), (0, 1))
        above = None
        for row in rows:
            left = [0] * ns
            coded = []
            for x, mcu in enumerate(row):
                mapped = []
                for si, d in enumerate(mcu):
                    if d > 32767:
                        d -= 65536
                    db = above[x][si] if above else 0
                    encode_lossless_diff_arith(
                        enc, bank, ll_classify(left[si], low, up),
                        ll_classify(db, low, up), d,
                    )
                    left[si] = d
                    mapped.append(d)
                coded.append(mapped)
            above = coded


def _sequential_scans(
    w: int, h: int, comps: list[tuple], scans: list[list[int]],
    tbls: list[int], restart_interval: int, cond: dict | None,
) -> bytes:
    """Every sequential DCT scan of a frame whose ``comps`` are (hs, vs,
    quant table, `_scan_order` block list): per entry of ``scans`` (frame
    component indices), its SOS segment and entropy-coded data, each
    component coding with table / statistics bank ``tbls[c]`` — the
    Annex K Huffman pair, or the QM-coder under ``cond`` when that is
    given. ``restart_interval`` MCUs per RSTn interval in every scan."""
    out = bytearray()
    for scan in scans:
        t = [tbls[c] for c in scan]
        if cond is None:
            coder = _HuffCoder(len(scan), _DC_ENC, _AC_ENC)
        else:
            coder = _ArithCoder(t, t, cond)
        order, per_mcu = _scan_order(w, h, comps, [c[3] for c in comps], scan)
        sos = _sos([(c + 1, tbl, tbl) for c, tbl in zip(scan, t)], 0, 63, 0, 0)
        out += _segments((0xDA, sos))
        out += _scan(coder, coder.sequential, order, restart_interval * per_mcu)
    return bytes(out)


def _lossless_scans(
    w: int, h: int, planes: list[list[int]], predictor: int, prec: int,
    al: int, interleaved: bool, restart_rows: int, cond: dict | None,
    tbl: int,
) -> bytes:
    """Every scan of a lossless frame (T.81 Annex H) over ``planes`` of
    ``prec``-bit samples (already reduced by the point transform
    ``al``): one interleaved scan whose MCU is one sample per component
    (A.2.3), or one scan per plane. ``predictor`` 1-7 selects the
    Annex H predictor; 0 codes the samples themselves, the differential
    frame of a hierarchical sequence. Whole-row restart intervals
    (``restart_rows``) restart prediction at each interval's first line
    (H.1.1). Coded with the `LL_BITS` Huffman table as DC table ``tbl``,
    or with the QM-coder under ``cond`` when that is given."""
    diffs = []
    for plane in planes:
        rows = []
        for y in range(h):
            row0 = y - y % restart_rows if restart_rows else 0
            rows.append([
                (plane[y * w + x] - (
                    _lossless_predict(plane, w, x, y, predictor, prec, row0)
                    if predictor else 0
                )) & 0xFFFF
                for x in range(w)
            ])
        diffs.append(rows)
    groups = [list(range(len(planes)))] if interleaved else [[i] for i in range(len(planes))]
    out = bytearray()
    for g in groups:
        if cond is None:
            coder = _HuffCoder(len(g), _LL_ENC)
        else:
            coder = _ArithCoder([tbl] * len(g), [0] * len(g), cond)
        rows = [list(zip(*(diffs[i][y] for i in g))) for y in range(h)]
        out += _segments((0xDA, _sos([(i + 1, tbl, 0) for i in g], predictor, 0, 0, al)))
        out += _scan(coder, coder.lossless, rows, restart_rows)
    return bytes(out)


def _dct_header(
    sof: int, prec: int, w: int, h: int, comps: list[tuple],
    qts: list[list[int]], restart_interval: int, tables: list[tuple[int, bytes]],
    qt_16bit: bool = False,
) -> bytes:
    """SOI and the header segments of every DCT assembler, in one order:
    APP0, DQT, DRI (when ``restart_interval``), the ``sof`` frame
    header, then the entropy ``tables`` (DHT or DAC segments)."""
    return b"\xff\xd8" + _segments(
        (0xE0, _APP0),
        (0xDB, _dqt(qts, qt_16bit)),
        restart_interval and (0xDD, struct.pack(">H", restart_interval)),
        (sof, _sof(prec, w, h, comps)),
        *tables,
    )


#: the Annex K luminance Huffman pair as DC and AC table 0
_ANNEX_K_DHT = [(0xC4, _dht(0x00, DC_BITS, DC_VALS)), (0xC4, _dht(0x10, AC_BITS, AC_VALS))]


def assemble_jpeg(
    w: int,
    h: int,
    qt_zz: list[int],
    blocks_zz: list[list[int]],
    restart_interval: int = 0,
    qt_16bit: bool = False,
    sof1: bool = False,
    prec: int = 8,
    arith: bool = False,
) -> bytes:
    """Assemble a complete spec-valid grayscale sequential JPEG from a
    zigzag quant table and per-block quantized coefficients (blocks in
    raster order, ceil(w/8)*ceil(h/8) of them — each block is its own
    MCU in a single-component scan).
    ``restart_interval`` > 0 additionally emits a DRI segment and RSTn
    markers every that-many MCUs. ``qt_16bit`` stores the quant table
    with 16-bit big-endian entries (DQT Pq=1 — T.81 B.2.4.1): the same
    values in the wider encoding, so decode is unchanged but a decoder
    that assumes 1-byte entries desyncs on the segment. ``sof1`` emits
    the frame header under the EXTENDED-sequential marker (0xFFC1) —
    at 8-bit precision the stream is otherwise identical, but a decoder
    that rejects the marker outright drops real crawl files.
    ``prec`` = 12 writes a deep extended-sequential frame (requires
    ``sof1`` or ``arith`` — T.81 Table B.2 limits baseline to 8-bit);
    a Huffman caller must keep DC values/diffs within the Annex K
    table's categories (|v| <= 2047), which the 12-bit fixtures do by
    construction. ``arith=True`` emits the ARITHMETIC extended
    sequential process instead (SOF9 + DAC with the default
    conditioning, T.81 Annex D/F): the same pixels, QM-coded —
    cross-validated against libjpeg in tests/test_multimodal.py."""
    if sof1 and arith:
        raise ValueError("sof1 and arith name two frame markers (SOF1, SOF9)")
    if prec == 12 and not (sof1 or arith):
        raise ValueError("12-bit precision requires the SOF1 marker")
    if prec not in (8, 12):
        raise ValueError(f"DCT sample precision must be 8 or 12, got {prec}")
    comps = [(1, 1, 0, blocks_zz)]
    if arith:
        sof, cond, tables = 0xC9, _DCT_COND, [(0xCC, _dac(_DCT_COND))]
    else:
        sof, cond, tables = 0xC1 if sof1 else 0xC0, None, _ANNEX_K_DHT
    return (
        _dct_header(sof, prec, w, h, comps, [qt_zz], restart_interval, tables, qt_16bit)
        + _sequential_scans(w, h, comps, [[0]], [0], restart_interval, cond)
        + b"\xff\xd9"
    )


def assemble_jpeg_lossless(
    w: int, h: int, samples: list, predictor: int, prec: int = 8,
    point_transform: int = 0, interleaved: bool = False,
    restart_rows: int = 0, arith: bool = False,
    cond: tuple[int, int] = (0, 1),
) -> bytes:
    """Assemble a spec-valid LOSSLESS JPEG (SOF3 — T.81 Annex H):
    sample differences against the Annex H predictor are category-coded
    exactly like sequential DC coefficients, under the `LL_BITS`
    difference table. No DQT (the lossless process has no
    quantization), no MCU padding (samples are a raw w x h raster),
    ``prec`` bits per sample (2-16; the process is precision-generic —
    this is where 12/16-bit deep images are exact).

    ``samples`` is one flat plane (grayscale) or a LIST of 1 or 3
    planes (the multi-component stream is one single-component scan per
    plane, the non-interleaved layout every lossless encoder emits).
    ``point_transform`` (Al, 0 <= Al < prec) codes samples in the
    REDUCED domain — pass reduced samples (< 2^(prec-Al)); decoders
    output them shifted back up by Al.

    ``interleaved=True`` emits ONE multi-component scan whose MCU is a
    single sample per component (all factors 1x1 — the A.2.3 degenerate
    MCU); ``restart_rows`` > 0 emits DRI = restart_rows * w MCUs and
    RSTn markers, each interval's first line restarting prediction at
    the default + Ra per H.1.1 so intervals decode independently.

    ``arith=True`` emits the ARITHMETIC lossless process (SOF11): the
    same differences coded through the Annex D QM-coder under the
    Annex H two-dimensional (Da, Db) conditioning, with a DAC segment
    carrying ``cond`` = (L, U) for statistics table 0 (all planes share
    table 0, hence one statistics bank, per F.1.4.4.1). Restart
    intervals flush the coder and zero the bank."""
    if not 1 <= predictor <= 7:
        raise ValueError(f"lossless predictor must be 1-7, got {predictor}")
    if not 2 <= prec <= 16:
        raise ValueError(f"lossless sample precision must be 2-16, got {prec}")
    if not 0 <= point_transform < prec:
        raise ValueError(
            f"lossless point transform must be in [0, prec), got {point_transform}"
        )
    planes = samples if samples and isinstance(samples[0], list) else [samples]
    if len(planes) not in (1, 3):
        raise ValueError(f"lossless encoder takes 1 or 3 planes, got {len(planes)}")
    comps = [(1, 1, 0)] * len(planes)
    if arith:
        low, up = cond
        if not 0 <= low <= up <= 15:
            raise ValueError(f"DAC DC conditioning L={low} U={up} invalid")
        dac = {("dc", 0): cond}
        head = [(0xCC, _dac(dac)), (0xCB, _sof(prec, w, h, comps))]
    else:
        dac = None
        head = [(0xC4, _dht(0x00, LL_BITS, LL_VALS)), (0xC3, _sof(prec, w, h, comps))]
    return (
        b"\xff\xd8"
        + _segments(*head, restart_rows and (0xDD, struct.pack(">H", restart_rows * w)))
        + _lossless_scans(
            w, h, planes, predictor, prec - point_transform, point_transform,
            interleaved, restart_rows, dac, 0,
        )
        + b"\xff\xd9"
    )


def assemble_jpeg_hierarchical(
    w: int, h: int, base, final: tuple[str, object],
    arith_base: bool = False, arith_final: bool = False,
) -> bytes:
    """Assemble a spec-valid two-level HIERARCHICAL JPEG (T.81 Annex J):
    DHP declaring the full (w, h) grayscale geometry, a half-resolution
    first frame, an EXP(1,1) reference expansion, and one differential
    refinement frame at full resolution.

    ``base`` is either an int — a CONSTANT half-res DCT base frame
    (SOF0, or SOF9 when ``arith_base``; quantizer 8 at DC makes the
    decoded plane exactly that constant) — or a list of wb*hb samples
    coded as a LOSSLESS (SOF3, predictor 1) base frame, decoded
    exactly. ``final`` is ("dct", per-block diff constants) — a
    DC-only differential DCT frame (SOF5, or SOF13 when
    ``arith_final``) adding diff[b] to every pixel of full-res block b
    — or ("lossless", target_plane) — a differential LOSSLESS frame
    (SOF7, or SOF15 when ``arith_final``) coding target - expanded
    mod 2^16, so the reconstruction IS the target. The expansion filter
    is `_exp2x` (the decoder's own J.1.1.2 reading; the DCT-over-
    lossless-base fixture pins it against an independent oracle).
    Every frame goes through the shared sequential and lossless scan
    writers. Huffman lossless scans use DC-class table id 1 so they
    coexist with the Annex K DC table at id 0."""
    if w % 2 or h % 2:
        raise ValueError("hierarchical fixture geometry must be even")
    wb, hb = w // 2, h // 2
    gray = [(1, 1, 0)]
    ll_cond = {("dc", 0): (0, 1)}

    def dct_frame(sof: int, fw: int, fh: int, dcs: list[int], arith: bool) -> bytes:
        blocks = [[dc] + [0] * 63 for dc in dcs]
        comps = [(1, 1, 0, blocks)]
        return _segments((sof, _sof(8, fw, fh, comps))) + _sequential_scans(
            fw, fh, comps, [[0]], [0], 0, _DCT_COND if arith else None,
        )

    def lossless_frame(
        sof: int, fw: int, fh: int, samples: list[int], predictor: int, arith: bool,
    ) -> bytes:
        return _segments((sof, _sof(8, fw, fh, gray))) + _lossless_scans(
            fw, fh, [samples], predictor, 8, 0, False, 0,
            ll_cond if arith else None, 0 if arith else 1,
        )

    out = bytearray(b"\xff\xd8")
    out += _segments(
        (0xDE, _sof(8, w, h, gray)),
        (0xDB, _dqt([[8] * 64])),
        *_ANNEX_K_DHT,
        (0xC4, _dht(0x01, LL_BITS, LL_VALS)),
        (0xCC, _dac(_DCT_COND)),
    )
    if isinstance(base, int):
        nb = ((wb + 7) // 8) * ((hb + 7) // 8)
        out += dct_frame(0xC9 if arith_base else 0xC0, wb, hb, [base - 128] * nb, arith_base)
        dec_base = [base] * (wb * hb)
    else:
        if len(base) != wb * hb:
            raise ValueError(f"lossless base plane must be {wb}x{hb}")
        out += lossless_frame(0xC3, wb, hb, list(base), 1, False)
        dec_base = list(base)
    out += _segments((0xDF, bytes([0x11])))  # EXP: Eh=1, Ev=1
    up, _, _ = _exp2x(dec_base, wb, hb, 1, 1)
    kind, payload = final
    if kind == "dct":
        nb = ((w + 7) // 8) * ((h + 7) // 8)
        if len(payload) != nb:
            raise ValueError(f"differential DCT frame needs {nb} block diffs")
        out += dct_frame(0xCD if arith_final else 0xC5, w, h, list(payload), arith_final)
    elif kind == "lossless":
        if len(payload) != w * h:
            raise ValueError(f"lossless target plane must be {w}x{h}")
        diffs = [(payload[i] - up[i]) & 0xFFFF for i in range(w * h)]
        out += lossless_frame(0xCF if arith_final else 0xC7, w, h, diffs, 0, arith_final)
    else:
        raise ValueError(f"unknown final frame kind {kind!r}")
    return bytes(out + b"\xff\xd9")


def synth_jpeg_hier(doc_id: int) -> bytes:
    """Deterministic HIERARCHICAL fixture (T.81 Annex J — DHP, a
    half-resolution first frame, EXP(1,1), one differential refinement
    frame), cycling doc%4 over the process pairs:

    0: constant DCT base (SOF0) + differential DCT (SOF5, Huffman) —
       final pixel = base + diff(block), base 60..187, diff -50..50.
    1: the same pyramid through the QM-coder (SOF9 base + SOF13 diff).
    2: LOSSLESS base (SOF3, predictor 1) holding the formula
       30 + (doc*31 + ys*17 + xs*7) % 196 at half resolution, expanded
       by the J.1.1.2 filter, plus SOF5 block diffs -30..30 — the one
       variant whose oracle recomputes the EXPANSION INTERPOLATION
       independently, pinning the filter.
    3: constant DCT base + differential LOSSLESS refinement (SOF7, or
       SOF15 arithmetic when doc%8==7) coding target - expanded mod
       2^16, so the reconstruction equals the target formula
       (doc*31 + y*17 + x*7) % 256 exactly.

    Geometry w = 16/24/32 by doc%3, h = 16."""
    doc_id = int(doc_id)
    v = doc_id % 4
    w = 16 + (doc_id % 3) * 8
    h = JPEG_H
    if v in (0, 1):
        base_val = 60 + (doc_id * 29) % 128
        nb = (w // 8) * (h // 8)
        diffs = [(doc_id * 13 + b * 7) % 101 - 50 for b in range(nb)]
        return assemble_jpeg_hierarchical(
            w, h, base_val, ("dct", diffs), arith_base=v == 1, arith_final=v == 1,
        )
    if v == 2:
        wb, hb = w // 2, h // 2
        base = [
            30 + (doc_id * 31 + y * 17 + x * 7) % 196
            for y in range(hb)
            for x in range(wb)
        ]
        nb = (w // 8) * (h // 8)
        diffs = [(doc_id * 13 + b * 7) % 61 - 30 for b in range(nb)]
        return assemble_jpeg_hierarchical(w, h, base, ("dct", diffs))
    target = [
        (doc_id * 31 + y * 17 + x * 7) % 256 for y in range(h) for x in range(w)
    ]
    base_val = 60 + (doc_id * 29) % 128
    return assemble_jpeg_hierarchical(
        w, h, base_val, ("lossless", target), arith_final=doc_id % 8 == 7,
    )


def synth_jpeg12(doc_id: int) -> bytes:
    """Deterministic 12-BIT extended-sequential fixture (SOF1, prec 12):
    width 16/24/32 by doc%3, height 16, DC-ONLY constant blocks with
    quantizer 8 at DC, so block b's 64 pixels all equal
    dc(b) + 2048 exactly where dc(b) = (doc_id*29) % 3000 - 1500 +
    (b*37 + doc_id) % 500 — values and successive diffs stay within the
    Annex K DC table's |v| <= 2047 categories, pixels land in
    [548, 4047] so neither clamp bites, and a SQL oracle recomputes the
    deep histogram from the formula."""
    doc_id = int(doc_id)
    w = 16 + (doc_id % 3) * 8
    nblocks = (w // 8) * 2
    qt = list(_FIXTURE_QT)
    blocks = []
    for b in range(nblocks):
        dc = (doc_id * 29) % 3000 - 1500 + (b * 37 + doc_id) % 500
        blocks.append([dc] + [0] * 63)
    return assemble_jpeg(w, JPEG_H, qt, blocks, sof1=True, prec=12)


def synth_jpeg_lossless(doc_id: int, prec: int = 8) -> bytes:
    """Deterministic SOF3 fixture: width 16/24/32 by doc%3, height 16,
    predictor 1 + doc%7 (all seven Annex H predictors across the
    corpus), pixel(y, x) = (doc_id*31 + y*17 + x*7) % 2^prec — the
    decode is LOSSLESS, so the decoded plane equals this formula
    exactly and a SQL oracle recomputes the features with no
    quantization model."""
    doc_id = int(doc_id)
    w = 16 + (doc_id % 3) * 8
    h = JPEG_H
    samples = [
        (doc_id * 31 + y * 17 + x * 7) % (1 << prec)
        for y in range(h)
        for x in range(w)
    ]
    return assemble_jpeg_lossless(w, h, samples, 1 + doc_id % 7, prec)


def synth_jpeg_lossless_arith(doc_id: int) -> bytes:
    """Deterministic SOF11 fixture — the LOSSLESS process under
    ARITHMETIC entropy coding (T.81 Annex H over the Annex D QM-coder):
    precision 12, point transform Al = doc%3, predictor 1 + doc%7 (all
    seven across the corpus), width 16/24/32 by doc%3, height 16.
    doc%2 picks the layout — grayscale single scan vs THREE planes in
    ONE interleaved scan (the A.2.3 degenerate MCU, all planes sharing
    statistics table 0 and hence ONE bank) — doc%5==0 adds 4-row
    restart intervals (QM flush + statistics reset per interval), and
    doc%11==0 swaps the DAC conditioning from the default (0,1) to
    (1,3), moving the small/large classification boundary of the
    two-dimensional (Da, Db) context model. Plane k's reduced-domain
    pixel is (doc_id*31 + k*97 + y*17 + x*7 + 3*x*y) % 2^(12-Al) — the
    x*y cross term keeps the coded differences position-dependent so
    every context row and both magnitude ladders see traffic. Decode is
    lossless: the decoded plane equals the formula << Al exactly."""
    doc_id = int(doc_id)
    w = 16 + (doc_id % 3) * 8
    h = JPEG_H
    al = doc_id % 3
    m = 1 << (12 - al)
    nplanes = 3 if doc_id % 2 else 1
    planes = [
        [
            (doc_id * 31 + k * 97 + y * 17 + x * 7 + 3 * x * y) % m
            for y in range(h)
            for x in range(w)
        ]
        for k in range(nplanes)
    ]
    return assemble_jpeg_lossless(
        w, h, planes if nplanes == 3 else planes[0], 1 + doc_id % 7, 12, al,
        interleaved=nplanes == 3,
        restart_rows=4 if doc_id % 5 == 0 else 0,
        arith=True,
        cond=(1, 3) if doc_id % 11 == 0 else (0, 1),
    )


def synth_jpeg_lossless_rgb(doc_id: int) -> bytes:
    """Deterministic THREE-COMPONENT lossless fixture with a POINT
    TRANSFORM: SOF3 at precision 12, Al = doc%3 (0/1/2 — identity plus
    both nontrivial shifts), predictor 1 + doc%7, width 16/24/32 by
    doc%3, height 16. The SCAN LAYOUT cycles doc%4 over every lossless
    delivery shape: non-interleaved scan-per-plane (0), non-interleaved
    with whole-row restarts every 8 rows (1), one fully INTERLEAVED
    scan — MCU = a sample per component (2), and interleaved with
    restarts every 4 rows (3; each interval's first line restarts
    prediction at default + Ra per H.1.1). The layout changes NO pixel.
    Reduced-domain pixel of plane k:
    r_k(y, x) = (doc_id*31 + k*59 + y*17 + x*7) % 2^(12-Al); the decoder
    must emit r_k << Al, so a SQL oracle recomputes every decoded value
    (and the downstream histogram/means) from this formula exactly —
    lossless end to end."""
    doc_id = int(doc_id)
    w = 16 + (doc_id % 3) * 8
    h = JPEG_H
    prec, al = 12, doc_id % 3
    m = 1 << (prec - al)
    planes = [
        [
            (doc_id * 31 + k * 59 + y * 17 + x * 7) % m
            for y in range(h)
            for x in range(w)
        ]
        for k in range(3)
    ]
    layout = doc_id % 4
    return assemble_jpeg_lossless(
        w, h, planes, 1 + doc_id % 7, prec, point_transform=al,
        interleaved=layout >= 2,
        restart_rows={1: 8, 3: 4}.get(layout, 0),
    )


#: Fixture quant table (zigzag order): 8 at the two coefficient positions
#: the fixtures use (DC and zigzag 14 = raster (0,4)), varied elsewhere so
#: a decoder that mis-maps the table to positions cannot round-trip.
_FIXTURE_QT = [10 + (i * 7) % 50 for i in range(64)]
_FIXTURE_QT[0] = 8
_FIXTURE_QT[14] = 8

#: Chroma fixture quant table: 8 at DC (the only coefficient the chroma
#: fixtures use), a DIFFERENT variation elsewhere than the luma table so a
#: decoder that maps either component to the wrong table cannot round-trip.
_FIXTURE_QT_C = [12 + (i * 11) % 40 for i in range(64)]
_FIXTURE_QT_C[0] = 8

#: ±1 per-pixel sign of the u=4 horizontal basis: cos((2x+1)π/4) signs.
_U4_SIGN = [1, -1, -1, 1, 1, -1, -1, 1]

JPEG_H = 16


def assemble_jpeg_color(
    w: int,
    h: int,
    qt_y_zz: list[int],
    qt_c_zz: list[int],
    y_blocks: list[list[list[int]]],
    cb_blocks: list[list[list[int]]],
    cr_blocks: list[list[list[int]]],
    sampling: tuple[int, int] = (2, 2),
    restart_interval: int = 0,
    multiscan: bool = False,
    partial: bool = False,
    chroma_sampling: tuple[int, int] = (1, 1),
    arith: bool = False,
) -> bytes:
    """Assemble a spec-valid 3-component YCbCr sequential JPEG for ANY of
    the standard chroma layouts — ``sampling`` is Y's (hs, vs) against
    ``chroma_sampling`` (default 1x1): (2,2)/(1,1) = 4:2:0, (2,1) =
    4:2:2, (1,2) = 4:4:0, (1,1) = 4:4:4; a chroma factor that does NOT
    divide Y's (e.g. Y 3x1 against chroma 2x1) produces the
    NON-INTEGER-ratio layout. Two quant tables (0 = luma, 1 = chroma).
    The MCU is hs*vs Y blocks (left-to-right then top-to-bottom)
    followed by the Cb then Cr blocks at their own factors (T.81 A.2.3
    interleave order).
    ``y_blocks`` is [block_row][block_col] over the PADDED
    (8*vs)-/(8*hs)-aligned grid; ``cb_blocks``/``cr_blocks`` are
    [mcu_row * ch_vs][mcu_col * ch_hs]. ``restart_interval`` > 0 emits
    a DRI segment and RSTn markers every that-many MCUs in every scan
    (all predictors reset; the RSTn index restarts at 0 per scan).

    ``multiscan=True`` emits the NON-interleaved layout instead: three
    sequential scans, one full-band scan per component, each over the
    component's ceil(comp_size/8) grid (T.81 A.2.2 — for a padded-MCU
    geometry this grid is SMALLER than the interleaved one, so a decoder
    iterating the wrong grid desyncs).

    ``partial=True`` emits the PARTIALLY interleaved layout: a Y-only
    scan (non-interleaved grid) followed by ONE two-component Cb+Cr
    scan whose MCUs interleave the Cb and Cr blocks over the frame
    MCU grid (T.81 A.2.3 subset-scan interleave).

    Huffman streams (SOF0) code every component with the Annex K
    luminance pair; ``arith=True`` emits SOF9 + DAC instead, luma on
    statistics bank 0 and chroma on bank 1, with a fresh coder and
    statistics per scan."""
    if multiscan and partial:
        raise ValueError("multiscan and partial are mutually exclusive")
    hs, vs = sampling
    ch_hs, ch_vs = chroma_sampling
    if ch_hs > hs or ch_vs > vs:
        raise ValueError("Y must carry the max sampling factor in this fixture")
    comps = [
        (hs, vs, tq, [b for row in grid for b in row])
        for hs, vs, tq, grid in (
            (hs, vs, 0, y_blocks), (ch_hs, ch_vs, 1, cb_blocks), (ch_hs, ch_vs, 1, cr_blocks),
        )
    ]
    scans = [[0], [1], [2]] if multiscan else [[0], [1, 2]] if partial else [[0, 1, 2]]
    if arith:
        sof, cond, tbls = 0xC9, _DCT_COND_COLOR, [0, 1, 1]
        tables = [(0xCC, _dac(cond))]
    else:
        sof, cond, tbls, tables = 0xC0, None, [0, 0, 0], _ANNEX_K_DHT
    return (
        _dct_header(sof, 8, w, h, comps, [qt_y_zz, qt_c_zz], restart_interval, tables)
        + _sequential_scans(w, h, comps, scans, tbls, restart_interval, cond)
        + b"\xff\xd9"
    )


def _y_block_zz(doc_id: int, bx: int, by: int) -> list[int]:
    """Shared luma fixture block: base value v = (doc_id*17 + by*31 +
    bx*7) % 251 + 2 (DC-only), plus an exact ±d u=4 ripple in the second
    block-row (d = (doc_id + bx) % 5 - 2), both quantized by 8 so decode
    is bit-exact. Identical in the grayscale and 4:2:0 fixtures, so the
    oracle's luminance formula covers both."""
    v = (doc_id * 17 + by * 31 + bx * 7) % 251 + 2
    bz = [0] * 64
    bz[0] = v - 128  # DC quantized by 8: 8*(v-128)/8
    if by == 1:
        bz[14] = (doc_id + bx) % 5 - 2  # dequantizes to 8d
    return bz


def synth_jpeg(doc_id: int) -> bytes:
    """Deterministic JPEG fixture mix keyed by doc_id % 8 — EVEN
    doc_ids grayscale, ODD color, cycling every container/layout the
    decoder supports: 0 = gray baseline (+DRI/RSTn on doc%6==0), 2/6 =
    gray PROGRESSIVE (SOF2), 4 = gray baseline with a 16-BIT (Pq=1)
    quant table, 1 = 4:2:0 baseline (+DRI on doc%6==5), 3 = 4:2:0
    progressive, 5 = 4:2:2, 7 = 4:4:4; grayscale docs with doc%16 == 8
    carry the frame header under the EXTENDED-sequential marker (SOF1 —
    pixel-identical at 8-bit precision, container-proving). Every variant carries the SAME
    pixel content for its doc_id, so the luminance oracle formula is
    container-independent; only the chroma-mean features (pos 8/9)
    depend on the chroma cell geometry, which the oracle selects on
    doc%8. Width is 16/24/32 by doc (geometry must come
    from the SOF), height 16. Luma block (bx, by) has base value v =
    (doc_id*17 + by*31 + bx*7) % 251 + 2; blocks in the second
    block-row add an exact ±d ripple (d = (doc_id + bx) % 5 - 2)
    through the u=4 AC basis, so every fixture exercises DC prediction
    across blocks, mid-run AC coding (13 zeros before zigzag 14),
    negative-coefficient bit encoding, and dequantization — while
    pixel(x, y) stays an integer formula the oracle can recompute:

        v               for y < 8
        v + d*s(x % 8)  for y >= 8, s = [+,-,-,+,+,-,-,+]
    """
    doc_id = int(doc_id)
    r8 = doc_id % 8
    if doc_id % 2 == 1:
        # color variants cycle by doc%8: 1 = 4:2:0 baseline, 3 = 4:2:0
        # progressive, 5 = 4:2:2, 7 = 4:4:4 (chroma cell geometry differs
        # per variant; the oracle's pos-8/9 formulas select on doc%8)
        if r8 == 3:
            return synth_jpeg_progressive(doc_id)
        if r8 == 5:
            return synth_jpeg_color(doc_id, (2, 1))
        if r8 == 7:
            # half the 4:4:4 docs use the NON-interleaved layout (one
            # sequential scan per component) — same pixels, same oracle
            return synth_jpeg_color(doc_id, (1, 1), multiscan=(doc_id % 16 == 15))
        return synth_jpeg_420(doc_id)
    if r8 in (2, 6):
        return synth_jpeg_progressive(doc_id)
    w, h = 16 + (doc_id % 3) * 8, JPEG_H
    blocks = []
    for by in range(h // 8):
        for bx in range(w // 8):
            blocks.append(_y_block_zz(doc_id, bx, by))
    # every third grayscale doc carries a restart interval (DRI + RSTn
    # every 3 MCUs): same pixel values, so the oracle is unchanged, but
    # the decoder must byte-align and reset predictors mid-scan; docs
    # with doc%8 == 4 store the SAME quant values as 16-bit DQT entries
    # (Pq=1), again pixel-identical but container-proving
    ri = 3 if doc_id % 6 == 0 else 0
    # doc%16 == 8 emits the SAME stream under the SOF1 (extended
    # sequential) marker: pixel-identical, so the oracle is unchanged,
    # but the decoder must accept the marker
    return assemble_jpeg(
        w, h, _FIXTURE_QT, blocks, restart_interval=ri, qt_16bit=(r8 == 4),
        sof1=(doc_id % 16 == 8),
    )


def _chroma_blocks(
    doc_id: int, mcu_w: int, mcu_h: int
) -> tuple[list[list[list[int]]], list[list[list[int]]]]:
    """The shared DC-only chroma fixture blocks (see synth_jpeg_420)."""

    def chroma(val: int) -> list[int]:
        bz = [0] * 64
        bz[0] = val - 128
        return bz

    cb = [
        [chroma((doc_id * 29 + mx * 13 + my * 11) % 251 + 2) for mx in range(mcu_w)]
        for my in range(mcu_h)
    ]
    cr = [
        [chroma((doc_id * 23 + mx * 7 + my * 19) % 251 + 2) for mx in range(mcu_w)]
        for my in range(mcu_h)
    ]
    return cb, cr


def synth_jpeg_color(
    doc_id: int, sampling: tuple[int, int], multiscan: bool = False,
    partial: bool = False, chroma_sampling: tuple[int, int] = (1, 1),
) -> bytes:
    """Deterministic color fixture at ANY standard chroma layout: the
    same luma pattern as every other fixture (shared oracle formula) and
    the same per-chroma-block DC-only values — the chroma grid geometry
    follows ``sampling`` against ``chroma_sampling``, so the upsampled
    chroma at pixel (x, y) is val((x*ch_hs//hs) // 8, (y*ch_vs//vs) // 8)
    (for the default 1x1 chroma that is the classic
    val(x // (8*hs), y // (8*vs))): the oracle proves the decoder
    walked the right grid AND replicated at the right — possibly
    FRACTIONAL — ratio. Same restart cadence as 4:2:0 (doc%6 == 5)."""
    doc_id = int(doc_id)
    hs, vs = sampling
    ch_hs, ch_vs = chroma_sampling
    w, h = 16 + (doc_id % 3) * 8, JPEG_H
    mcu_w = (w + 8 * hs - 1) // (8 * hs)
    mcu_h = (h + 8 * vs - 1) // (8 * vs)
    y_blocks = [
        [_y_block_zz(doc_id, bx, by) for bx in range(mcu_w * hs)]
        for by in range(mcu_h * vs)
    ]
    cb, cr = _chroma_blocks(doc_id, mcu_w * ch_hs, mcu_h * ch_vs)
    ri = 1 if doc_id % 6 == 5 else 0
    return assemble_jpeg_color(
        w, h, _FIXTURE_QT, _FIXTURE_QT_C, y_blocks, cb, cr,
        sampling=sampling, restart_interval=ri, multiscan=multiscan,
        partial=partial, chroma_sampling=chroma_sampling,
    )


#: exotic-sampling fixture grid by doc_id % 5: every non-standard layout
#: the generic MCU walk admits (Y factors 3/4, vertical subsampling, and
#: the FRACTIONAL 3x1-Y-against-2x1-chroma ratio 3/2) — 4:1:1 (4,1) is
#: the DV/video-capture layout. Each entry is (Y sampling, chroma
#: sampling).
EXOTIC_SAMPLINGS = [
    ((3, 1), (1, 1)),
    ((4, 1), (1, 1)),
    ((1, 3), (1, 1)),
    ((4, 2), (1, 1)),
    ((3, 1), (2, 1)),
]


def synth_jpeg_exotic(doc_id: int) -> bytes:
    """Deterministic EXOTIC-sampling color fixture: the same luma/chroma
    formulas as every color fixture (shared oracle), but the sampling
    cycles `EXOTIC_SAMPLINGS` by doc%5 — 3x1, 4:1:1 (4x1), 1x3, the
    10-block-MCU maximum 4x2, and the NON-INTEGER-ratio 3x1 Y against
    2x1 chroma (replication ratio 3/2 — the fractional-upsampling case).
    The scan layout cycles by doc%20//5 over all THREE sequential
    layouts of the same pixels: fully interleaved (0), non-interleaved
    scan-per-component (1), and PARTIALLY interleaved — a Y-only scan
    then one Cb+Cr subset scan (2 and 3) — so every walk is exercised
    against one oracle formula."""
    doc_id = int(doc_id)
    sampling, chroma_sampling = EXOTIC_SAMPLINGS[doc_id % 5]
    layout = (doc_id % 20) // 5
    return synth_jpeg_color(
        doc_id, sampling, multiscan=(layout == 1), partial=(layout >= 2),
        chroma_sampling=chroma_sampling,
    )


def synth_jpeg_progressive(doc_id: int) -> bytes:
    """Deterministic PROGRESSIVE (SOF2) fixture with the exact same
    pixel content as the baseline fixture of the same doc_id parity —
    grayscale for even ids, 4:2:0 YCbCr for odd — so every oracle
    formula holds unchanged while the container exercises the full
    Annex G scan script: spectral selection (bands 1-5 / 6-63),
    successive approximation on DC (Al=1 first pass + raw-bit
    refinement) and AC (magnitude-plane first pass + correction-bit
    refinement), cross-block EOBn runs, and the padded-MCU /
    non-interleaved-grid mismatch at width 24. The same restart cadence
    as the baseline mix (doc_id%6==0 gray / %6==5 color) puts DRI+RSTn
    on the DC first scan, then rebinds DRI to 0 — T.81 E.2.4 — so the
    decoder must track mid-stream DRI changes."""
    doc_id = int(doc_id)
    w, h = 16 + (doc_id % 3) * 8, JPEG_H
    if doc_id % 2 == 1:
        mcu_w, mcu_h = (w + 15) // 16, (h + 15) // 16
        y_blocks = [
            [_y_block_zz(doc_id, bx, by) for bx in range(mcu_w * 2)]
            for by in range(mcu_h * 2)
        ]
        cb, cr = _chroma_blocks(doc_id, mcu_w, mcu_h)
        dc_ri = 1 if doc_id % 6 == 5 else 0
        return assemble_jpeg_progressive(
            w, h, _FIXTURE_QT, y_blocks, qt_c_zz=_FIXTURE_QT_C,
            cb_blocks=cb, cr_blocks=cr, dc_restart_interval=dc_ri,
        )
    blocks = []
    for by in range(h // 8):
        for bx in range(w // 8):
            blocks.append(_y_block_zz(doc_id, bx, by))
    dc_ri = 2 if doc_id % 6 == 0 else 0
    return assemble_jpeg_progressive(
        w, h, _FIXTURE_QT, blocks, dc_restart_interval=dc_ri
    )


def synth_jpeg_420(doc_id: int) -> bytes:
    """Deterministic 4:2:0 color JPEG fixture: same luma pattern as the
    grayscale fixture (so the oracle's Y histogram formula is shared),
    plus DC-only constant chroma blocks per MCU:

        Cb(mcu mx, my) = (doc_id*29 + mx*13 + my*11) % 251 + 2
        Cr(mcu mx, my) = (doc_id*23 + mx*7  + my*19) % 251 + 2

    Chroma upsampling by 2x2 replication makes the full-resolution
    chroma at pixel (x, y) exactly Cb(x//16, y//16) / Cr(x//16, y//16)
    — integers the oracle recomputes. Widths 24 (odd doc_ids with
    doc_id%3==1) force a PADDED MCU column: the encoder emits the
    16-aligned grid, the decoder must crop to the SOF0 geometry."""
    doc_id = int(doc_id)
    w, h = 16 + (doc_id % 3) * 8, JPEG_H
    mcu_w, mcu_h = (w + 15) // 16, (h + 15) // 16
    y_blocks = [
        [_y_block_zz(doc_id, bx, by) for bx in range(mcu_w * 2)]
        for by in range(mcu_h * 2)
    ]
    cb, cr = _chroma_blocks(doc_id, mcu_w, mcu_h)
    # color docs with doc_id % 6 == 5 are width 32 (two MCUs) and restart
    # every MCU (the tightest legal DRI): all six per-MCU predictors
    # reset at the boundary
    ri = 1 if doc_id % 6 == 5 else 0
    return assemble_jpeg_color(
        w, h, _FIXTURE_QT, _FIXTURE_QT_C, y_blocks, cb, cr, restart_interval=ri
    )


def synth_jpeg_arith(doc_id: int) -> bytes:
    """Deterministic ARITHMETIC-coded JPEG fixture mix keyed by
    doc_id % 8, carrying the SAME pixels as the Huffman fixtures (the
    shared `_y_block_zz` / `_chroma_blocks` formulas, so the oracle is
    unchanged — only the entropy layer differs):

      0: grayscale SOF9 (extended sequential)
      1: 4:2:0 color SOF9 (interleaved, luma bank 0 + chroma bank 1)
      2: grayscale SOF9 with DRI=3 restarts (QM registers + statistics
         re-initialized per boundary, RSTn indices verified)
      3: 4:4:4 color SOF9 (1x1 sampling, 3 blocks per MCU)
      4: grayscale PROGRESSIVE SOF10 (the full Annex G scan script —
         DC first Al=1 + fixed-state refinement, split-band AC first +
         correction passes; DRI=3 on the DC scan when doc % 16 == 4)
      5: 4:2:0 color PROGRESSIVE SOF10
      6: 4:2:0 color SOF9 NON-INTERLEAVED (one full-band scan per
         component over its A.2.2 grid, per-scan coder/statistics)
      7: 4:2:0 color SOF9 PARTIALLY interleaved (a Y-only scan then one
         Cb+Cr subset scan; restart every MCU when doc % 16 == 7)

    Interleaved color docs with doc_id % 16 == 1 are width 24 and
    restart every MCU (the tightest legal DRI) — the arithmetic twin of
    the 4:2:0 Huffman restart variant."""
    doc_id = int(doc_id)
    w, h = 16 + (doc_id % 3) * 8, JPEG_H
    variant = doc_id % 8
    if variant in (0, 2, 4):
        blocks = [
            _y_block_zz(doc_id, bx, by)
            for by in range(h // 8)
            for bx in range(w // 8)
        ]
        if variant == 4:
            return assemble_jpeg_progressive(
                w, h, _FIXTURE_QT, blocks,
                dc_restart_interval=3 if doc_id % 16 == 4 else 0, arith=True,
            )
        return assemble_jpeg(
            w, h, _FIXTURE_QT, blocks, restart_interval=3 if variant == 2 else 0,
            arith=True,
        )
    hs, vs = (1, 1) if variant == 3 else (2, 2)
    mcu_w = (w + 8 * hs - 1) // (8 * hs)
    mcu_h = (h + 8 * vs - 1) // (8 * vs)
    y_blocks = [
        [_y_block_zz(doc_id, bx, by) for bx in range(mcu_w * hs)]
        for by in range(mcu_h * vs)
    ]
    cb, cr = _chroma_blocks(doc_id, mcu_w, mcu_h)
    if variant == 5:
        return assemble_jpeg_progressive(
            w, h, _FIXTURE_QT, y_blocks, _FIXTURE_QT_C, cb, cr, arith=True
        )
    ri = 1 if doc_id % 16 in (1, 7) else 0
    return assemble_jpeg_color(
        w, h, _FIXTURE_QT, _FIXTURE_QT_C, y_blocks, cb, cr,
        sampling=(hs, vs), restart_interval=ri,
        multiscan=variant == 6, partial=variant == 7, arith=True,
    )


# -- progressive encoder (fixture synthesis, T.81 Annex G) -------------------

#: Compact AC Huffman table for the progressive scans: EOBn run symbols
#: (n = 0..4 → EOB runs up to 31 blocks — the Annex K baseline table has
#: only EOB0, so progressive streams carry their own DHT, exactly like
#: real encoders), ZRL, and (run, size) symbols for sizes 1..3. All 54
#: symbols sit at code length 6 (2^6 = 64 > 54; the all-ones code stays
#: unused), a spec-valid canonical DHT.
PROG_AC_VALS = [0x00, 0x10, 0x20, 0x30, 0x40, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 4)
]
PROG_AC_BITS = [0, 0, 0, 0, 0, len(PROG_AC_VALS), 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_PROG_AC_ENC = _canonical_codes(PROG_AC_BITS, PROG_AC_VALS, "progressive AC", ac=True)


def assemble_jpeg_progressive(
    w: int,
    h: int,
    qt_y_zz: list[int],
    y_blocks,
    qt_c_zz: list[int] | None = None,
    cb_blocks: list[list[list[int]]] | None = None,
    cr_blocks: list[list[list[int]]] | None = None,
    dc_restart_interval: int = 0,
    arith: bool = False,
) -> bytes:
    """Assemble a spec-valid PROGRESSIVE JPEG carrying the same
    quantized coefficients as the sequential assemblers — grayscale when
    ``cb_blocks`` is None (``y_blocks`` a flat raster list, like
    `assemble_jpeg`), 4:2:0 YCbCr otherwise (``y_blocks`` the padded
    [block_row][block_col] grid, like `assemble_jpeg_color`).
    ``arith=True`` emits the ARITHMETIC progressive process (SOF10 +
    DAC, T.81 Annex G over the Annex D QM-coder) with the SAME scan
    script — per-scan coder and statistics, fixed-state DC refinement
    bits, the G.2.2 AC correction pass.

    Scan script (the shape real encoders emit — spectral selection AND
    successive approximation on both DC and AC):

    1. DC first scan, all components interleaved, Al=1
       (optionally restart-segmented: ``dc_restart_interval`` emits a
       DRI before it and a DRI=0 after, so later scans are restart-free
       — exercising the DRI-rebinding rule of T.81 E.2.4)
    2. per component: AC first scan, band 1..5, Al=1
    3. per component: AC first scan, band 6..63, Al=1
    4. DC refinement scan, interleaved, raw bits (Ah=1, Al=0)
    5. per component: AC refinement scan, band 1..5 (Ah=1, Al=0)
    6. per component: AC refinement scan, band 6..63 (Ah=1, Al=0)

    AC scans are single-component over the component's NON-interleaved
    block grid (ceil(comp_size/8) — T.81 A.2.2), which for a padded-MCU
    geometry is SMALLER than the interleaved grid, so a decoder that
    iterates the wrong grid desyncs. DC scans use the Annex K DC table;
    AC scans use the module's compact progressive table (id 1) whose
    EOBn symbols the baseline table lacks. Arithmetic scans all use
    statistics bank 0."""
    if cb_blocks is None:
        comps = [(1, 1, 0, y_blocks)]
        qts = [qt_y_zz]
    else:
        comps = [
            (hs, vs, tq, [b for row in grid for b in row])
            for hs, vs, tq, grid in (
                (2, 2, 0, y_blocks), (1, 1, 1, cb_blocks), (1, 1, 1, cr_blocks),
            )
        ]
        qts = [qt_y_zz, qt_c_zz]
    if arith:
        sof, ac_tbl, tables = 0xCA, 0, [(0xCC, _dac(_DCT_COND))]
    else:
        sof, ac_tbl = 0xC2, 1
        tables = [
            (0xC4, _dht(0x00, DC_BITS, DC_VALS)),
            (0xC4, _dht(0x11, PROG_AC_BITS, PROG_AC_VALS)),
        ]

    orders: dict[tuple[int, ...], tuple[list, int]] = {}

    def scan(sel: list[int], ss: int, se: int, ah: int, al: int, ri: int = 0) -> bytes:
        if arith:
            coder = _ArithCoder([0] * len(sel), [0] * len(sel), _DCT_COND, ss, se, ah, al)
        else:
            coder = _HuffCoder(len(sel), _DC_ENC, _PROG_AC_ENC, ss, se, al)
        if ss == 0:
            step = coder.dc_refine if ah else coder.dc_first
        else:
            step = coder.ac_refine if ah else coder.ac_first
        key = tuple(sel)
        if key not in orders:
            orders[key] = _scan_order(w, h, comps, [c[3] for c in comps], sel)
        order, per_mcu = orders[key]
        sos = _sos([(c + 1, 0, ac_tbl if ss else 0) for c in sel], ss, se, ah, al)
        return _segments((0xDA, sos)) + _scan(coder, step, order, ri * per_mcu)

    every = list(range(len(comps)))
    bands = ((1, 5), (6, 63))
    out = bytearray(
        _dct_header(sof, 8, w, h, comps, qts, dc_restart_interval, tables)
    )
    out += scan(every, 0, 0, 0, 1, dc_restart_interval)
    if dc_restart_interval:
        out += _segments((0xDD, struct.pack(">H", 0)))  # later scans restart-free
    for ss, se in bands:
        for c in every:
            out += scan([c], ss, se, 0, 1)
    out += scan(every, 0, 0, 1, 0)
    for ss, se in bands:
        for c in every:
            out += scan([c], ss, se, 1, 0)
    return bytes(out + b"\xff\xd9")


# -- decoder -----------------------------------------------------------------


class _BitReader:
    """MSB-first bit reader over entropy data with 0xFF00 un-stuffing;
    stops at any non-stuffed marker (EOI ends the scan)."""

    def __init__(self, raw: bytes, pos: int) -> None:
        self.raw = raw
        self.pos = pos
        self._acc = 0
        self._n = 0

    def bit(self) -> int:
        if self._n == 0:
            if self.pos >= len(self.raw):
                raise ValueError("JPEG entropy stream truncated")
            b = self.raw[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.raw[self.pos] if self.pos < len(self.raw) else 0xD9
                if nxt == 0x00:
                    self.pos += 1
                elif 0xD0 <= nxt <= 0xD7:
                    raise ValueError(
                        "JPEG restart marker inside an entropy segment "
                        "(corrupt stream or wrong DRI interval)"
                    )
                else:
                    raise ValueError("JPEG scan ended before all blocks decoded")
            self._acc = b
            self._n = 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def restart(self, expected: int) -> None:
        """Consume an RSTn marker at a restart boundary (T.81 E.2.4):
        discard the pad bits of the current byte, then require the
        byte-aligned 0xFFD0+expected marker."""
        self._n = 0  # drop pad bits (encoder pads with 1s to the byte)
        if (
            self.pos + 1 >= len(self.raw)
            or self.raw[self.pos] != 0xFF
            or self.raw[self.pos + 1] != 0xD0 + expected
        ):
            raise ValueError(
                f"JPEG expected restart marker RST{expected} at a restart "
                f"boundary (corrupt stream or interleave mismatch)"
            )
        self.pos += 2


class _HuffDec:
    """Canonical Huffman decoder from a DHT (bits, values) spec: per-
    length first-code/first-index tables (T.81 F.2.2.3 DECODE)."""

    def __init__(self, bits: list[int], vals: list[int]) -> None:
        self.vals = vals
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code, k = 0, 0
        for length in range(1, 17):
            if bits[length - 1]:
                self.valptr[length] = k
                self.mincode[length] = code
                code += bits[length - 1]
                k += bits[length - 1]
                self.maxcode[length] = code - 1
            code <<= 1

    def decode(self, r: _BitReader) -> int:
        code = r.bit()
        for length in range(1, 17):
            if code <= self.maxcode[length]:
                return self.vals[self.valptr[length] + code - self.mincode[length]]
            code = (code << 1) | r.bit()
        raise ValueError("invalid JPEG Huffman code")


def _extend(bits: int, size: int) -> int:
    """Map `size` appended bits to a signed value (T.81 F.2.2.1 EXTEND)."""
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def _idct_block(coef: list[int], prec: int = 8, shift: bool = True) -> list[int]:
    """Separable 8x8 inverse DCT on raster-order dequantized
    coefficients; returns 64 level-shifted clamped pixels. The level
    shift and clamp are precision-parametric (T.81 A.3.1: shift is
    2^(P-1)): 8-bit frames shift +128 and clamp to 255, 12-bit extended
    frames shift +2048 and clamp to 4095. ``shift=False`` is the
    DIFFERENTIAL-frame form (T.81 Annex J hierarchical refinement): no
    level shift, output clamped to the signed difference range
    [-2^P, 2^P - 1].

    Every output is the float sum of C[u]*F(u)*COS[u][x] (row pass) and
    then C[v]*t(v)*COS[v][y] (column pass) over the nonzero terms, in
    ascending u / v order from 0.0, rounded once: the pixels the
    fixture oracles recompute depend on these exact bits, so the
    products are hoisted out of the output loops, never reassociated
    (no ``sum()``, which compensates on newer Pythons). When rows 1-7
    are zero the column pass reduces to C[0]*t(0) (COS[0][y] == 1.0),
    so one output row is computed and repeated."""
    lvl = (1 << (prec - 1)) if shift else 0
    bot = 0 if shift else -(1 << prec)
    top = (1 << prec) - 1
    rows = []
    for v in range(8):
        row = coef[v * 8:(v + 1) * 8]
        if not any(row):
            continue
        terms = [(_C[u] * c, _COS[u]) for u, c in enumerate(row) if c]
        t = []
        for x in range(8):
            s = 0.0
            for cu, cos_u in terms:
                s += cu * cos_u[x]
            t.append(s)
        rows.append((v, t))
    if not rows:
        return [lvl] * 64  # round(0.0) + lvl, always inside [bot, top]
    if len(rows) == 1 and rows[0][0] == 0:
        line = []
        for s in rows[0][1]:
            p = round(_C[0] * s / 4) + lvl
            line.append(bot if p < bot else (top if p > top else p))
        return line * 8
    out = [0] * 64
    for x in range(8):
        terms = [(_C[v] * t[x], _COS[v]) for v, t in rows if t[x]]
        for y in range(8):
            s = 0.0
            for cv, cos_v in terms:
                s += cv * cos_v[y]
            p = round(s / 4) + lvl
            out[y * 8 + x] = bot if p < bot else (top if p > top else p)
    return out


def _decode_block(
    r: _BitReader, dec_dc: _HuffDec, dec_ac: _HuffDec, blk: list[int], pred: int,
) -> int:
    """Sequential Huffman decode of one block (T.81 F.2.2): the DC
    difference onto the predictor, then AC run-lengths with ZRL/EOB,
    into ``blk``'s zigzag quantized coefficients. Returns the new DC
    predictor."""
    size = dec_dc.decode(r)
    pred += _extend(r.bits(size), size)
    blk[0] = pred
    k = 1
    while k < 64:
        rs = dec_ac.decode(r)
        if rs == 0x00:  # EOB
            break
        if rs == 0xF0:  # ZRL
            k += 16
            continue
        k += rs >> 4
        if k > 63:
            raise ValueError("JPEG AC coefficient overrun")
        blk[k] = _extend(r.bits(rs & 0xF), rs & 0xF)
        k += 1
    return pred


def _ac_first_decode(
    r: _BitReader, ac: _HuffDec, blk: list[int], ss: int, se: int, al: int, eobrun: int
) -> int:
    """Progressive AC first-scan decode for one block (T.81 G.2 / the
    standard decode_mcu_AC_first): run-length + EOBn band decode into
    the quantized-coefficient store (values << Al). Returns the EOB run
    remaining for subsequent blocks."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = ac.decode(r)
        rr, s = rs >> 4, rs & 0xF
        if s:
            k += rr
            if k > se:
                raise ValueError("JPEG progressive AC coefficient overrun")
            blk[k] = _extend(r.bits(s), s) << al
            k += 1
        else:
            if rr != 15:
                eobrun = 1 << rr
                if rr:
                    eobrun += r.bits(rr)
                return eobrun - 1
            k += 16
    return 0


def _ac_refine_decode(
    r: _BitReader, ac: _HuffDec, blk: list[int], ss: int, se: int, al: int, eobrun: int
) -> int:
    """Progressive AC refinement decode for one block (T.81 G.2 /
    decode_mcu_AC_refine): newly-nonzero coefficients arrive as ±1<<Al;
    every already-nonzero coefficient in the band consumes one
    correction bit (added toward larger magnitude when set). Blocks
    inside an EOB run still consume their correction bits."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = ac.decode(r)
            rr, s = rs >> 4, rs & 0xF
            newval = 0
            if s:
                if s != 1:
                    raise ValueError(
                        "JPEG progressive AC refinement symbol with size != 1"
                    )
                newval = p1 if r.bit() else m1
            else:
                if rr != 15:
                    eobrun = 1 << rr
                    if rr:
                        eobrun += r.bits(rr)
                    break
            while k <= se:
                c = blk[k]
                if c != 0:
                    if r.bit() and (c & p1) == 0:
                        blk[k] = c + (p1 if c >= 0 else m1)
                else:
                    if rr == 0:
                        break
                    rr -= 1
                k += 1
            if newval:
                if k > se:
                    raise ValueError("JPEG progressive AC refinement overrun")
                blk[k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:
            c = blk[k]
            if c != 0:
                if r.bit() and (c & p1) == 0:
                    blk[k] = c + (p1 if c >= 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun


def _crop_planes(
    planes_raw: list[list[list[int]]],
    samplings: list[tuple[int, int]],
    w: int,
    h: int,
    hmax: int,
    vmax: int,
) -> list[list[int]]:
    """Crop each component's padded block grid to the SOF geometry and
    upsample subsampled components by nearest-neighbor replication:
    full-resolution pixel (x, y) reads component sample
    (x*hs // hmax, y*vs // vmax) — the T.81 A.1.1 sample-grid map,
    which reduces to classic x // (hmax/hs) replication for integer
    ratios and handles FRACTIONAL ratios (e.g. 3x1 Y against 2x1
    chroma, ratio 3/2) the same way. A full-width component (hs ==
    hmax) maps x to itself, so its rows are sliced; a subsampled one
    computes its column map once per plane."""
    out: list[list[int]] = []
    for ci, (hs, vs) in enumerate(samplings):
        plane = planes_raw[ci]
        flat: list[int] = []
        if hs == hmax:
            for y in range(h):
                flat += plane[y * vs // vmax][:w]
        else:
            cols = [x * hs // hmax for x in range(w)]
            for y in range(h):
                src = plane[y * vs // vmax]
                flat += [src[c] for c in cols]
        out.append(flat)
    return out


def _next_marker(raw: bytes, p: int) -> int:
    """Resync after entropy-coded data: the position of the first marker
    at or after ``p`` that ends a scan, skipping pad bits, stuffed
    0xFF00 bytes, RSTn markers and the 0xFF fill bytes a marker may
    follow (T.81 B.1.1.2)."""
    while p + 1 < len(raw) and not (
        raw[p] == 0xFF
        and raw[p + 1] not in (0x00, 0xFF)
        and not (0xD0 <= raw[p + 1] <= 0xD7)
    ):
        p += 1
    return p


def _arith_restart(dec: ArithDecoder, raw: bytes, rst: int) -> None:
    """Arithmetic restart boundary (T.81 E.2.4 / F.1.4.4): the decoder
    stops at the marker; require the cycling RSTn there and re-init the
    registers. The caller resets its statistics."""
    p = dec.marker_start()
    if not (p + 1 < len(raw) and raw[p] == 0xFF and raw[p + 1] == 0xD0 + rst):
        raise ValueError(
            f"JPEG expected restart marker RST{rst} at a restart boundary "
            f"(corrupt stream or interleave mismatch)"
        )
    dec.pos = p + 2
    dec.restart()


class _HuffScan:
    """Huffman entropy state of one DCT scan (T.81 Annex F/G): the bit
    reader, one DC predictor per scan component and the progressive EOB
    run. Each step method decodes a run of (scan component index, store
    block) pairs — the blocks between two restart markers, in scan
    order — into the blocks' zigzag quantized coefficients."""

    def __init__(
        self, raw: bytes, pos: int, dcs: list, acs: list, ss: int, se: int, al: int,
    ) -> None:
        self.r = _BitReader(raw, pos)
        self.dcs, self.acs = dcs, acs  # per scan component
        self.ss, self.se, self.al = ss, se, al
        self.preds = [0] * len(dcs)
        self.eobrun = 0

    def restart(self, rst: int) -> None:
        self.r.restart(rst)
        self.preds = [0] * len(self.preds)
        self.eobrun = 0

    def end(self) -> int:
        return self.r.pos

    def sequential(self, run: list[tuple[int, list[int]]]) -> None:
        r, dcs, acs, preds = self.r, self.dcs, self.acs, self.preds
        for si, blk in run:
            preds[si] = _decode_block(r, dcs[si], acs[si], blk, preds[si])

    def dc_first(self, run: list[tuple[int, list[int]]]) -> None:
        r, dcs, preds, al = self.r, self.dcs, self.preds, self.al
        for si, blk in run:
            s = dcs[si].decode(r)
            preds[si] += _extend(r.bits(s), s)
            blk[0] = preds[si] << al

    def dc_refine(self, run: list[tuple[int, list[int]]]) -> None:
        r, al = self.r, self.al
        for _si, blk in run:
            blk[0] |= r.bit() << al

    def ac_first(self, run: list[tuple[int, list[int]]]) -> None:
        r, ac, ss, se, al = self.r, self.acs[0], self.ss, self.se, self.al
        eobrun = self.eobrun
        for _si, blk in run:
            eobrun = _ac_first_decode(r, ac, blk, ss, se, al, eobrun)
        self.eobrun = eobrun

    def ac_refine(self, run: list[tuple[int, list[int]]]) -> None:
        r, ac, ss, se, al = self.r, self.acs[0], self.ss, self.se, self.al
        eobrun = self.eobrun
        for _si, blk in run:
            eobrun = _ac_refine_decode(r, ac, blk, ss, se, al, eobrun)
        self.eobrun = eobrun


class _ArithScan:
    """Arithmetic twin of `_HuffScan` (T.81 Annex D QM-coder under the
    Annex F/G models): a fresh decoder and statistics area per scan,
    both re-initialized at every restart boundary. DC/AC table ids name
    statistics banks; the DAC conditioning comes from ``cond``."""

    def __init__(
        self, raw: bytes, pos: int, tds: list[int], tas: list[int], cond: dict,
        prec: int, ss: int, se: int, al: int,
    ) -> None:
        self.raw = raw
        self.dec = ArithDecoder(raw, pos)
        self.stats = ArithStats(len(tds))
        self.tds, self.tas, self.cond, self.prec = tds, tas, cond, prec
        self.ss, self.se, self.al = ss, se, al

    def restart(self, rst: int) -> None:
        _arith_restart(self.dec, self.raw, rst)
        self.stats.reset()

    def end(self) -> int:
        return self.dec.marker_start()

    def sequential(self, run: list[tuple[int, list[int]]]) -> None:
        dec, stats, tds, tas = self.dec, self.stats, self.tds, self.tas
        for si, blk in run:
            blk[:] = decode_block_arith(
                dec, stats, si, tds[si], tas[si], self.cond, self.prec
            )

    def dc_first(self, run: list[tuple[int, list[int]]]) -> None:
        dec, stats, tds, al = self.dec, self.stats, self.tds, self.al
        for si, blk in run:
            dc = decode_dc_arith(dec, stats, si, tds[si], self.cond, self.prec)
            blk[0] = dc << al

    def dc_refine(self, run: list[tuple[int, list[int]]]) -> None:
        dec, fixed, bit = self.dec, self.stats.fixed, 1 << self.al
        for _si, blk in run:
            if dec.decode(fixed, 0):
                blk[0] |= bit

    def ac_first(self, run: list[tuple[int, list[int]]]) -> None:
        dec, stats, ta, ss, se, al = (
            self.dec, self.stats, self.tas[0], self.ss, self.se, self.al
        )
        for _si, blk in run:
            decode_ac_first_arith(dec, stats, ta, self.cond, blk, ss, se, al)

    def ac_refine(self, run: list[tuple[int, list[int]]]) -> None:
        dec, stats, ta, ss, se, al = (
            self.dec, self.stats, self.tas[0], self.ss, self.se, self.al
        )
        for _si, blk in run:
            decode_ac_refine_arith(dec, stats, ta, blk, ss, se, al)


def _parse_dct_sos(
    body: bytes,
    comps: list[tuple[int, int, int, int]],
    quant: list[list[int] | None],
    qts: dict[int, list[int]],
    dcs: dict[int, _HuffDec],
    acs: dict[int, _HuffDec],
    progressive: bool,
    arith: bool,
) -> tuple[list[int], list[int], list[int], int, int, int, int]:
    """Validate one DCT scan header (T.81 B.2.3) and return (component
    indices, DC table ids, AC table ids, Ss, Se, Ah, Al). ``quant``
    holds the table latched at each component's first scan (None before
    it), so a component without one needs its DQT now, and a sequential
    component with one is being scanned twice."""
    ns = body[0]
    if len(body) < 1 + 2 * ns + 3:
        raise ValueError("JPEG SOS truncated (component specs short)")
    ss, se, ahal = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
    ah, al = ahal >> 4, ahal & 0xF
    scan: list[int] = []
    tds: list[int] = []
    tas: list[int] = []
    for si in range(ns):
        cs = body[1 + 2 * si]
        td, ta = body[2 + 2 * si] >> 4, body[2 + 2 * si] & 0xF
        match = [i for i, c in enumerate(comps) if c[0] == cs]
        if not match:
            raise ValueError("JPEG SOS references unknown component id")
        ci = match[0]
        if arith:
            # statistics-bank ids (0-3), not DHT ids: banks start at the
            # uniform state, so no DAC/DHT prerequisite exists
            if td > 3 or ta > 3:
                raise ValueError(
                    f"JPEG arithmetic SOS table ids ({td},{ta}) outside the "
                    f"0-3 statistics-bank range"
                )
            missing_table = False
        elif progressive:  # only the tables this scan's kind reads
            missing_table = (ss == 0 and ah == 0 and td not in dcs) or (
                ss != 0 and ta not in acs
            )
        else:
            missing_table = td not in dcs or ta not in acs
        if missing_table or (quant[ci] is None and comps[ci][3] not in qts):
            raise ValueError("JPEG SOS references undefined quant/Huffman table")
        if ci in scan:
            raise ValueError(
                f"JPEG SOS lists component id {cs} twice in one scan (T.81 "
                f"B.2.3 requires distinct Csj)"
            )
        if not progressive and quant[ci] is not None:
            # sequential DCT codes each component in exactly one scan
            raise ValueError(
                f"JPEG SOS re-scans component id {cs} already decoded by an "
                f"earlier sequential scan"
            )
        scan.append(ci)
        tds.append(td)
        tas.append(ta)
    # B.2.3: an INTERLEAVED scan's MCU holds at most 10 data units — a
    # scan-level limit (frames summing past 10 are legal when delivered
    # as non-interleaved scans)
    if ns > 1 and sum(comps[ci][1] * comps[ci][2] for ci in scan) > 10:
        raise ValueError(
            f"interleaved JPEG scan exceeds the T.81 limit of 10 blocks per "
            f"MCU: {[(comps[ci][1], comps[ci][2]) for ci in scan]}"
        )
    if progressive:
        if ss == 0:
            if se != 0:
                raise ValueError("JPEG progressive DC scan must have Se=0")
            if 1 < ns < len(comps):
                raise NotImplementedError(
                    "partially interleaved progressive DC scan not supported"
                )
        elif ns != 1:
            raise ValueError("JPEG progressive AC scan must be single-component")
        elif se > 63 or ss > se:
            raise ValueError("JPEG progressive scan has invalid spectral band")
    return scan, tds, tas, ss, se, ah, al


class JpegCoefficients:
    """The first decode phase of a DCT frame: every scan's entropy
    decode accumulated into one store. ``blocks[c]`` is component c's
    block grid over the frame's MCU layout (``grid`` = hmax, vmax,
    mcus_x, mcus_y; mcus_x * hs blocks per row, padding blocks
    included), 64 zigzag quantized coefficients per block. ``quant[c]``
    is the zigzag quant table latched at c's first scan (None before
    it), as libjpeg latches in `latch_quant_tables`, so a later DQT
    redefining the slot does not touch c."""

    def __init__(
        self, w: int, h: int, prec: int, comps: list[tuple[int, int, int, int]],
    ) -> None:
        hmax = max(hs for _, hs, _, _ in comps)
        vmax = max(vs for _, _, vs, _ in comps)
        mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
        mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
        self.width, self.height, self.precision = w, h, prec
        self.comps = comps  # (cid, hs, vs, tq) in SOF order
        self.grid = (hmax, vmax, mcus_x, mcus_y)
        self.blocks = [
            [[0] * 64 for _ in range(mcus_x * hs * mcus_y * vs)]
            for _, hs, vs, _ in comps
        ]
        self.quant: list[list[int] | None] = [None] * len(comps)
        # scan order per component set: progressive scripts repeat them
        self._orders: dict[tuple[int, ...], tuple[list, int]] = {}

    def walk(
        self,
        scan: list[int],
        coder: _HuffScan | _ArithScan,
        step: Callable[[list[tuple[int, list[int]]]], None],
        restart_interval: int,
    ) -> None:
        """The block walker of every DCT scan: hand ``step`` the scan's
        (scan component index, block) pairs in T.81 A.2 order, one
        restart interval of ``restart_interval`` MCUs at a time, the
        coder consuming the next RSTn between intervals."""
        key = tuple(scan)
        if key not in self._orders:
            self._orders[key] = _scan_order(
                self.width, self.height, [c[1:3] for c in self.comps], self.blocks, scan,
            )
        order, per_mcu = self._orders[key]
        span = restart_interval * per_mcu or len(order)
        for n, start in enumerate(range(0, len(order), span)):
            if n:
                coder.restart((n - 1) % 8)
            step(order[start:start + span])


def _reconstruct(
    c: JpegCoefficients, differential: bool,
) -> tuple[int, int, list[list[int]], int]:
    """The second decode phase, once per frame at EOI: dequantize each
    block with its component's latched table, IDCT it at the frame
    precision (no level shift for a DIFFERENTIAL frame) and crop /
    upsample the block grids to the SOF geometry. A component the
    stream never scanned has all-zero blocks and decodes flat, as in
    libjpeg."""
    hmax, vmax, mcus_x, mcus_y = c.grid
    shift = not differential
    planes_raw = []
    for (_cid, hs, vs, _tq), blocks, qt in zip(c.comps, c.blocks, c.quant):
        qt = qt or [0] * 64
        stride = mcus_x * hs
        plane = [[0] * (stride * 8) for _ in range(mcus_y * vs * 8)]
        for bi, zz in enumerate(blocks):
            by, bx = divmod(bi, stride)
            if zz[1:] == _AC_ZERO:  # DC-only, the commonest block: one product
                coef = [zz[0] * qt[0]] + _AC_ZERO
            else:
                coef = [zz[zi] * qt[zi] for zi in _UNZIGZAG]
            px = _idct_block(coef, c.precision, shift)
            py0, px0 = by * 8, bx * 8
            for y in range(8):
                plane[py0 + y][px0:px0 + 8] = px[y * 8:y * 8 + 8]
        planes_raw.append(plane)
    samplings = [(hs, vs) for _, hs, vs, _ in c.comps]
    return c.width, c.height, _crop_planes(
        planes_raw, samplings, c.width, c.height, hmax, vmax
    ), c.precision


def jpeg_coefficients(payload: bytes) -> JpegCoefficients:
    """Entropy-decode a DCT JPEG to its quantized coefficient store
    without any IDCT: the phase `jpeg_frame` reconstructs from. Raises
    ValueError for a lossless or hierarchical stream (no single DCT
    frame) and otherwise the error contract of `jpeg_frame`."""
    got = _read_frame(bytes(payload), False)
    if not isinstance(got, JpegCoefficients):
        raise ValueError("JPEG is lossless or hierarchical: no DCT coefficients")
    return got


def jpeg_frame(
    payload: bytes, differential: bool = False,
) -> tuple[int, int, list[list[int]], int]:
    """Decode a JPEG to (width, height, planes, sample_precision): one
    full-resolution row-major plane per component in SOF order — [Y]
    for grayscale, [Y, Cb, Cr] for color (subsampled chroma upsampled by
    replication over the A.1.1 sample-grid map).

    A DCT frame decodes in two phases. Every scan — sequential or
    progressive, Huffman or arithmetic, interleaved, partially
    interleaved or one-component — entropy-decodes into ONE
    per-component store of quantized zigzag coefficients
    (`jpeg_coefficients`): sequential scans fill whole blocks;
    progressive scans add DC first/refinement passes (interleaved or
    single-component, point transform Al) and single-component AC band
    first/refinement passes with cross-block EOBn runs. Each component
    latches its quant table at its first scan. At EOI one pass
    dequantizes, IDCTs at the frame precision and crops the padded MCU
    grid to the SOF geometry. Lossless frames (Annex H) predict samples
    directly, and a DHP segment hands the stream to the hierarchical
    driver, which decodes each of its frames through this function
    (``differential=True`` drops the level shift / prediction).

    Restart intervals (DRI/RSTn) reset predictors (and the progressive
    EOB run) and re-align the entropy decoder at every marker, honoring
    mid-stream DRI rebinding. Both DQT precisions parse (8-bit and
    16-bit entries), and color streams decode at every T.81-legal
    sampling grid, including NON-INTEGER ratios like 3x1 Y against 2x1
    chroma. Raises NotImplementedError on the documented seams
    (parameter gates such as component counts) and ValueError on
    malformed streams (including a SOS that references an undefined
    quant/Huffman table, a sequential stream missing a component's
    scan, or one scanning a component twice).
    """
    got = _read_frame(bytes(payload), differential)
    if isinstance(got, JpegCoefficients):
        return _reconstruct(got, differential)
    return got


def _read_frame(
    raw: bytes, differential: bool,
) -> JpegCoefficients | tuple[int, int, list[list[int]], int]:
    """Walk the marker stream: a DCT frame comes back as its coefficient
    store, a lossless or hierarchical one already decoded."""
    if raw[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qts: dict[int, list[int]] = {}
    dcs: dict[int, _HuffDec] = {}
    acs: dict[int, _HuffDec] = {}
    w = h = 0
    restart_interval = 0
    progressive = False
    lossless = False
    prec = 8
    arith = False  # SOF9/10/11: arithmetic entropy coding
    arith_cond: dict = {}  # DAC conditioning: ("dc",Tb)->(L,U), ("ac",Tb)->Kx
    comps: list[tuple[int, int, int, int]] = []  # (cid, hs, vs, tq)
    store: JpegCoefficients | None = None
    ll_planes: list[list[int] | None] | None = None  # lossless: one per component
    while pos + 2 <= len(raw):
        if raw[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        if raw[pos + 1] == 0xFF:  # fill byte before a marker (T.81 B.1.1.2)
            pos += 1
            continue
        marker = raw[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0xDE:  # DHP: hand the stream to the Annex J driver
            if differential:
                raise ValueError(
                    "DHP segment inside a hierarchical frame substream"
                )
            return _decode_hierarchical(raw)
        if marker in (0xC5, 0xC6, 0xC7, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"differential SOF marker 0xFF{marker:02X} outside a "
                f"hierarchical sequence (T.81 Annex J requires a preceding "
                f"DHP segment)"
            )
        if pos + 4 > len(raw):
            raise ValueError("JPEG segment truncated (declared length exceeds stream)")
        (seglen,) = struct.unpack_from(">H", raw, pos + 2)
        if seglen < 2 or pos + 2 + seglen > len(raw):
            raise ValueError("JPEG segment truncated (declared length exceeds stream)")
        body = raw[pos + 4:pos + 2 + seglen]
        if marker == 0xDD:  # DRI
            if len(body) < 2:
                raise ValueError("JPEG DRI truncated")
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDB:  # DQT
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 0xF
                if pq == 0:
                    if off + 65 > len(body):
                        raise ValueError("JPEG DQT truncated (needs 64 table entries)")
                    qts[tq] = list(body[off + 1:off + 65])
                    off += 65
                elif pq == 1:  # 16-bit entries (big-endian, T.81 B.2.4.1)
                    if off + 129 > len(body):
                        raise ValueError(
                            "JPEG DQT truncated (needs 64 16-bit table entries)"
                        )
                    qts[tq] = [
                        (body[off + 1 + 2 * i] << 8) | body[off + 2 + 2 * i]
                        for i in range(64)
                    ]
                    off += 129
                else:
                    raise ValueError(f"JPEG DQT has invalid precision Pq={pq}")
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(body):
                if off + 17 > len(body):
                    raise ValueError("JPEG DHT truncated (needs 16 length counts)")
                tc, th = body[off] >> 4, body[off] & 0xF
                bits = list(body[off + 1:off + 17])
                n = sum(bits)
                if off + 17 + n > len(body):
                    raise ValueError("JPEG DHT truncated (value list short)")
                vals = list(body[off + 17:off + 17 + n])
                (dcs if tc == 0 else acs)[th] = _HuffDec(bits, vals)
                off += 17 + n
        elif marker == 0xCC:  # DAC — arithmetic conditioning (B.2.4.3)
            off = 0
            while off + 2 <= len(body):
                tc, tb = body[off] >> 4, body[off] & 0xF
                cs = body[off + 1]
                if tb > 3:
                    raise ValueError(f"JPEG DAC table id {tb} outside 0-3")
                if tc == 0:
                    low, up = cs & 0xF, cs >> 4
                    if low > up or up > 15:
                        raise ValueError(
                            f"JPEG DAC DC conditioning L={low} U={up} "
                            f"violates 0 <= L <= U <= 15"
                        )
                    arith_cond[("dc", tb)] = (low, up)
                elif tc == 1:
                    if not 1 <= cs <= 63:
                        raise ValueError(f"JPEG DAC AC Kx={cs} outside 1-63")
                    arith_cond[("ac", tb)] = cs
                else:
                    raise ValueError(f"JPEG DAC has invalid class Tc={tc}")
                off += 2
            if off != len(body):
                raise ValueError("JPEG DAC truncated (odd parameter bytes)")
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC9, 0xCA, 0xCB):  # SOFn
            # SOF1 (extended sequential, Huffman) at 8-bit precision is
            # decode-identical to baseline — it only widens the limits
            # (12-bit samples, 4 Huffman table slots) this decoder
            # already gates elsewhere. SOF3 is the LOSSLESS process
            # (T.81 Annex H): no DCT/quantization, predictor-coded
            # sample differences — and precision-generic, so deep
            # (12/16-bit) images are in scope there.
            if store is not None or ll_planes is not None:
                raise ValueError("JPEG has a second SOF after its scans")
            progressive = marker in (0xC2, 0xCA)
            lossless = marker in (0xC3, 0xCB)  # SOF11 = lossless, arithmetic
            arith = marker in (0xC9, 0xCA, 0xCB)  # ARITHMETIC entropy coding
            if len(body) < 6:
                raise ValueError("JPEG SOF truncated")
            prec, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if lossless:
                if not 2 <= prec <= 16:
                    raise ValueError(f"bad lossless JPEG precision {prec}")
            elif marker in (0xC1, 0xC9, 0xCA) and prec == 12:
                pass  # extended sequential / arithmetic progressive at 12-bit
            elif prec != 8:
                raise NotImplementedError(
                    f"only 8-bit JPEG samples supported under SOF marker "
                    f"0xFF{marker:02X} here; this decoder admits 12-bit "
                    f"samples under SOF1, SOF9 and SOF10 only"
                )
            if len(body) < 6 + 3 * ncomp:
                raise ValueError("JPEG SOF0 truncated (component specs short)")
            comps = []
            for ci in range(ncomp):
                cid = body[6 + 3 * ci]
                hv = body[7 + 3 * ci]
                comps.append((cid, hv >> 4, hv & 0xF, body[8 + 3 * ci]))
            samplings = [(hs, vs) for _, hs, vs, _ in comps]
            if ncomp == 1:
                if samplings != [(1, 1)]:
                    raise NotImplementedError(
                        "grayscale JPEG with non-1x1 sampling not supported"
                    )
            elif ncomp == 3:
                # Any T.81-legal sampling grid the replication upsampler
                # can reconstruct: factors 1-4 (Table B.2 — a FRAME
                # limit, so violations are ValueError) and every
                # component's factor dividing the max (integer
                # replication ratio; e.g. 3x1 Y against 2x1 chroma
                # would need fractional interpolation — the stated
                # seam). The 10-blocks-per-MCU limit (B.2.3) applies to
                # INTERLEAVED SCANS only and is enforced at SOS — a
                # frame summing past 10 is legal when delivered as
                # non-interleaved scans. This admits the standard
                # layouts (4:4:4/4:2:2/4:4:0/4:2:0) AND the exotic ones
                # (3x1, 4x1, 1x3, 4x2 / 4:1:1) — the MCU walk, plane
                # allocation, and upsampler are sampling-generic.
                if any(
                    not (1 <= hs <= 4 and 1 <= vs <= 4) for hs, vs in samplings
                ):
                    raise ValueError(
                        f"JPEG sampling factors outside the T.81 1-4 "
                        f"limit: {samplings}"
                    )
                # non-integer ratios (e.g. 3x1 Y against 2x1 chroma) are
                # in scope: the MCU walk is sampling-generic and the
                # upsampler maps x -> x*hs//hmax (A.1.1), so no integer
                # divisibility constraint applies beyond the 1-4 limit
            else:
                raise NotImplementedError(
                    f"only 1- or 3-component JPEG supported, got {ncomp} components"
                )
        elif marker == 0xDA:  # SOS
            if len(body) < 4:
                raise ValueError("JPEG SOS truncated")
            if not (w and h) or not comps:
                raise ValueError("JPEG SOS before SOF0")
            ns = body[0]
            if lossless:
                # T.81 Annex H scan: Ss carries the predictor selector,
                # Se = 0, Al the POINT TRANSFORM (samples coded at
                # precision P - Al, output shifted back up); differences
                # are DC-category coded, reconstruction is modulo 2^16.
                # Multi-component streams arrive either as one
                # single-component scan per component (non-interleaved)
                # or as ONE INTERLEAVED scan whose MCU is one sample per
                # component (all factors 1x1, A.2.3 degenerate MCU).
                # Restart markers are supported when each interval is a
                # whole number of sample ROWS: H.1.1 treats an
                # interval's first line like the scan's first line
                # (default + Ra), so whole-row intervals never reference
                # across the boundary and stay independently decodable;
                # a mid-row interval would make "first line" ambiguous
                # and is refused loudly.
                if ns not in (1, len(comps)):
                    raise NotImplementedError(
                        "lossless JPEG scans decode single-component or "
                        "fully interleaved; partial subsets not supported"
                    )
                if restart_interval and restart_interval % w:
                    raise NotImplementedError(
                        f"lossless restart interval {restart_interval} is "
                        f"not a whole number of {w}-MCU sample rows"
                    )
                restart_rows = restart_interval // w if restart_interval else 0
                if len(body) < 1 + 2 * ns + 3:
                    raise ValueError("JPEG lossless SOS truncated")
                predictor = body[1 + 2 * ns]
                al = body[3 + 2 * ns] & 0xF
                if differential:
                    # hierarchical differential lossless scan (J.1.1.6):
                    # the reference frame IS the prediction, so Ss must
                    # be 0 and every coded value is a raw mod-2^16 diff
                    if predictor != 0:
                        raise ValueError(
                            f"differential lossless scan must carry predictor "
                            f"selector Ss=0, got {predictor}"
                        )
                elif not 1 <= predictor <= 7:
                    raise ValueError(
                        f"lossless predictor selector must be 1-7, got {predictor}"
                    )
                if al >= prec:
                    raise ValueError(
                        f"lossless point transform Al={al} must be below the "
                        f"sample precision {prec}"
                    )
                if any((hs, vs) != (1, 1) for _, hs, vs, _ in comps):
                    raise NotImplementedError(
                        "lossless JPEG requires 1x1 sampling on every component"
                    )
                lscan: list[tuple[int, int]] = []  # (comp index, td)
                for si in range(ns):
                    cs = body[1 + 2 * si]
                    td = body[2 + 2 * si] >> 4
                    if arith:
                        if td > 3:
                            raise ValueError(
                                f"JPEG arithmetic SOS table id {td} outside "
                                f"the 0-3 statistics-bank range"
                            )
                    elif td not in dcs:
                        raise ValueError(
                            "JPEG SOS references undefined quant/Huffman table"
                        )
                    match = [i for i, c in enumerate(comps) if c[0] == cs]
                    if not match:
                        raise ValueError("JPEG SOS references unknown component id")
                    if any(match[0] == prev for prev, _ in lscan):
                        raise ValueError(
                            f"JPEG SOS lists component id {cs} twice in one "
                            f"scan (T.81 B.2.3 requires distinct Csj)"
                        )
                    lscan.append((match[0], td))
                if ll_planes is None:
                    ll_planes = [None] * len(comps)
                prec_r = prec - al  # reduced-domain precision (H.1)
                scan_planes = {ci: [0] * (w * h) for ci, _ in lscan}
                row0 = 0
                rst = 0
                if arith:
                    # SOF11 (T.81 Annex H over the Annex D QM-coder):
                    # differences are DC-tree coded under the two-
                    # dimensional (Da, Db) conditioning — the diffs
                    # coded at the left and upper neighbors, classified
                    # by the DAC bounds of the scan component's table
                    # id. Components sharing a table id share ONE
                    # statistics bank (F.1.4.4.1) but keep their own
                    # prediction and conditioning state. Restart
                    # intervals re-init the coder, zero every bank, and
                    # restart conditioning like a first line (H.1.1).
                    adec = ArithDecoder(raw, pos + 2 + seglen)
                    banks = {td: bytearray(LL_STAT_BINS) for _, td in lscan}
                    bounds = {
                        td: arith_cond.get(("dc", td), (0, 1)) for _, td in lscan
                    }
                    prev_d = {ci: [0] * w for ci, _ in lscan}
                    cur_d = {ci: [0] * w for ci, _ in lscan}
                    for y in range(h):
                        if restart_rows and y and y % restart_rows == 0:
                            _arith_restart(adec, raw, rst)
                            for bank in banks.values():
                                bank[:] = bytes(LL_STAT_BINS)
                            rst = (rst + 1) % 8
                            row0 = y
                        base = y * w
                        for x in range(w):
                            for ci, td in lscan:
                                low, up = bounds[td]
                                da = cur_d[ci][x - 1] if x else 0
                                db = prev_d[ci][x] if y > row0 else 0
                                diff = decode_lossless_diff_arith(
                                    adec,
                                    banks[td],
                                    ll_classify(da, low, up),
                                    ll_classify(db, low, up),
                                )
                                cur_d[ci][x] = diff
                                samples = scan_planes[ci]
                                pred = 0 if differential else _lossless_predict(
                                    samples, w, x, y, predictor, prec_r, row0
                                )
                                samples[base + x] = (pred + diff) & 0xFFFF
                        for ci, _td in lscan:
                            prev_d[ci], cur_d[ci] = cur_d[ci], prev_d[ci]
                else:
                    r = _BitReader(raw, pos + 2 + seglen)
                    for y in range(h):
                        if restart_rows and y and y % restart_rows == 0:
                            r.restart(rst)
                            rst = (rst + 1) % 8
                            row0 = y
                        base = y * w
                        for x in range(w):
                            for ci, td in lscan:
                                ssss = dcs[td].decode(r)
                                if ssss == 16:  # H.1.2.2: no appended bits
                                    diff = 32768
                                elif ssss:
                                    diff = _extend(r.bits(ssss), ssss)
                                else:
                                    diff = 0
                                samples = scan_planes[ci]
                                pred = 0 if differential else _lossless_predict(
                                    samples, w, x, y, predictor, prec_r, row0
                                )
                                samples[base + x] = (pred + diff) & 0xFFFF
                for ci, _dec in lscan:
                    samples = scan_planes[ci]
                    # Reconstruction is modulo 2^16 regardless of
                    # precision (H.1.2.1), so a corrupt-but-parseable
                    # stream can land samples >= 2^(prec-Al); fail loudly
                    # here instead of letting downstream histogram
                    # binning overrun (v*dim >> prec).
                    if differential:
                        # samples are mod-2^16 DIFFS against the reference
                        # frame; range-check the COMBINED output instead
                        # (the hierarchical driver owns that), apply the
                        # point transform in modular arithmetic
                        ll_planes[ci] = (
                            [(v << al) & 0xFFFF for v in samples] if al else samples
                        )
                        continue
                    if prec_r < 16 and max(samples, default=0) >> prec_r:
                        raise ValueError(
                            f"lossless JPEG sample exceeds declared precision "
                            f"{prec} - Al {al} (corrupt stream)"
                        )
                    # output = reduced sample << Pt (H.2.2's inverse)
                    ll_planes[ci] = [v << al for v in samples] if al else samples
                pos = _next_marker(raw, adec.marker_start() if arith else r.pos)
                continue
            if store is None:
                store = JpegCoefficients(w, h, prec, comps)
            scan, tds, tas, ss, se, ah, al = _parse_dct_sos(
                body, comps, store.quant, qts, dcs, acs, progressive, arith
            )
            for ci in scan:
                if store.quant[ci] is None:
                    store.quant[ci] = qts[comps[ci][3]]
            if arith:
                coder = _ArithScan(
                    raw, pos + 2 + seglen, tds, tas, arith_cond, prec, ss, se, al
                )
            else:
                coder = _HuffScan(
                    raw, pos + 2 + seglen, [dcs.get(t) for t in tds],
                    [acs.get(t) for t in tas], ss, se, al,
                )
            if not progressive:
                step = coder.sequential
            elif ss == 0:
                step = coder.dc_refine if ah else coder.dc_first
            else:
                step = coder.ac_refine if ah else coder.ac_first
            store.walk(scan, coder, step, restart_interval)
            pos = _next_marker(raw, coder.end())
            continue
        pos += 2 + seglen
    if ll_planes is not None:
        # EOI after lossless scans: every component must have been
        # scanned (a missing scan is a malformed stream, not a zero
        # plane — same contract as the sequential accumulate path)
        if any(p is None for p in ll_planes):
            missing = [i for i, p in enumerate(ll_planes) if p is None]
            raise ValueError(
                f"JPEG lossless stream is missing scans for component "
                f"index(es) {missing}"
            )
        return w, h, ll_planes, prec
    if store is None:
        raise ValueError("JPEG has no scan (missing SOS)")
    missing = [ci for ci, qt in enumerate(store.quant) if qt is None]
    if missing and not progressive:
        # a missing sequential scan is a truncated/malformed stream, not
        # an all-zero plane
        raise ValueError(
            f"JPEG sequential stream is missing scans for component "
            f"index(es) {missing}"
        )
    return store


#: hierarchical (Annex J) marker sets: every SOF, the differential six,
#: and the translation each differential process decodes through — its
#: non-differential sibling with the level shift / prediction disabled
#: via jpeg_frame's ``differential`` flag.
_SOF_ALL = frozenset(
    (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF)
)
_SOF_DIFF = frozenset((0xC5, 0xC6, 0xC7, 0xCD, 0xCE, 0xCF))
_SOF_TRANSLATE = {0xC5: 0xC1, 0xC6: 0xC2, 0xC7: 0xC3,
                  0xCD: 0xC9, 0xCE: 0xCA, 0xCF: 0xCB}
_SOF_DIFF_LOSSLESS = frozenset((0xC7, 0xCF))
_TABLE_MARKERS = frozenset((0xDB, 0xC4, 0xCC, 0xDD, 0xFE)) | frozenset(
    range(0xE0, 0xF0)
)


def _exp2x(
    plane: list[int], w: int, h: int, eh: int, ev: int,
) -> tuple[list[int], int, int]:
    """T.81 J.1.1.2 reference-component expansion: double the plane
    horizontally (eh) and/or vertically (ev) — even outputs copy the
    source sample, odd outputs interpolate the two neighbors with
    upward rounding, out(2i+1) = (in(i) + in(i+1) + 1) >> 1, and the
    final odd output replicates the edge. Horizontal runs before
    vertical when both are set. No independent hierarchical decoder
    exists in common libraries to cross-validate the rounding, so this
    reading of the J.1.1.2 filter is documented here and mirrored by
    the fixture oracles (same caveat as the Table H.2 context map)."""
    if eh:
        out: list[int] = []
        for y in range(h):
            row = plane[y * w:(y + 1) * w]
            for x in range(w):
                out.append(row[x])
                out.append(
                    (row[x] + row[x + 1] + 1) >> 1 if x + 1 < w else row[x]
                )
        plane, w = out, 2 * w
    if ev:
        out = []
        for y in range(h):
            row = plane[y * w:(y + 1) * w]
            out.extend(row)
            if y + 1 < h:
                nxt = plane[(y + 1) * w:(y + 2) * w]
                out.extend([(a + b + 1) >> 1 for a, b in zip(row, nxt)])
            else:
                out.extend(row)
        plane, h = out, 2 * h
    return plane, w, h


def _decode_hierarchical(raw: bytes) -> tuple[int, int, list[list[int]], int]:
    """T.81 Annex J hierarchical driver: walk the marker stream once at
    the top level, slice each frame (its SOF through its last scan's
    entropy data) into a standalone substream — SOI + every table/misc
    segment seen so far, in order, + the frame with its SOF marker
    TRANSLATED to the non-differential sibling + EOI — and decode it
    through `jpeg_frame` (differential frames with the level shift /
    lossless prediction disabled). Reference components accumulate by
    component id: the first frame per component stores its plane,
    differential frames ADD to it — DCT differences clamped into
    [0, 2^P - 1], lossless differences in mod-2^16 arithmetic with a
    loud range check — and EXP segments expand every reference by the
    J.1.1.2 filter before the next frame (expanded planes crop by one
    row/column when an odd full dimension makes the next frame a
    sample short). At EOI every DHP component must be coded and sized
    exactly to the DHP geometry. Differential progressive (SOF6/14)
    rides the same translation — the progressive machinery accumulates
    coefficients per frame and the shift-free IDCT runs at the frame's
    own EOI — so all thirteen SOF processes decode."""
    pos = 2
    tables: list[bytes] = []
    dhp: tuple[int, int, int, list[int]] | None = None  # prec, h, w, cids
    refs: dict[int, tuple[list[int], int, int]] = {}

    def seg() -> tuple[int, bytes, int]:
        if pos + 4 > len(raw):
            raise ValueError("JPEG segment truncated (declared length exceeds stream)")
        (ln,) = struct.unpack_from(">H", raw, pos + 2)
        if ln < 2 or pos + 2 + ln > len(raw):
            raise ValueError("JPEG segment truncated (declared length exceeds stream)")
        return ln, raw[pos + 4:pos + 2 + ln], pos + 2 + ln

    while pos + 2 <= len(raw):
        if raw[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        if raw[pos + 1] == 0xFF:  # fill byte before a marker (T.81 B.1.1.2)
            pos += 1
            continue
        marker = raw[pos + 1]
        if marker == 0xD9:  # EOI
            break
        ln, body, nxt = seg()
        if marker in _TABLE_MARKERS:
            tables.append(raw[pos:nxt])
            pos = nxt
            continue
        if marker == 0xDE:  # DHP — same syntax as a SOF header (B.3.2)
            if dhp is not None:
                raise ValueError("JPEG hierarchy declares DHP twice")
            if refs:
                raise ValueError("JPEG DHP must precede the first frame")
            if len(body) < 6:
                raise ValueError("JPEG DHP truncated")
            dprec, dh, dw, dn = struct.unpack_from(">BHHB", body, 0)
            if len(body) < 6 + 3 * dn or dn < 1:
                raise ValueError("JPEG DHP truncated (component specs short)")
            dhp = (dprec, dh, dw, [body[6 + 3 * i] for i in range(dn)])
            pos = nxt
            continue
        if marker == 0xDF:  # EXP
            if len(body) < 1:
                raise ValueError("JPEG EXP truncated")
            eh, ev = body[0] >> 4, body[0] & 0xF
            if eh > 1 or ev > 1 or not (eh or ev):
                raise ValueError(f"JPEG EXP has invalid Eh={eh} Ev={ev}")
            if not refs:
                raise ValueError("JPEG EXP before any reference frame")
            for cid, (plane, rw, rh) in refs.items():
                refs[cid] = _exp2x(plane, rw, rh, eh, ev)
            pos = nxt
            continue
        if marker not in _SOF_ALL:
            raise ValueError(
                f"unexpected marker 0xFF{marker:02X} in a hierarchical sequence"
            )
        if dhp is None:
            raise ValueError("JPEG hierarchical frame before the DHP segment")
        if len(body) < 6:
            raise ValueError("JPEG SOF truncated")
        f_n = body[5]
        if len(body) < 6 + 3 * f_n:
            raise ValueError("JPEG SOF truncated (component specs short)")
        frame_cids = [body[6 + 3 * i] for i in range(f_n)]
        diff = marker in _SOF_DIFF
        prefix = b"".join(tables)
        # walk the frame's interior: table segments persist to LATER
        # frames too; SOS entropy data is skipped to the next true marker
        p = nxt
        saw_scan = False
        while p + 2 <= len(raw):
            if raw[p] != 0xFF:
                raise ValueError("JPEG marker desync")
            if raw[p + 1] == 0xFF:  # fill byte
                p += 1
                continue
            m2 = raw[p + 1]
            if m2 in _SOF_ALL or m2 in (0xDF, 0xDE, 0xD9):
                break
            if p + 4 > len(raw):
                raise ValueError(
                    "JPEG segment truncated (declared length exceeds stream)"
                )
            (l2,) = struct.unpack_from(">H", raw, p + 2)
            if l2 < 2 or p + 2 + l2 > len(raw):
                raise ValueError(
                    "JPEG segment truncated (declared length exceeds stream)"
                )
            if m2 in _TABLE_MARKERS:
                tables.append(raw[p:p + 2 + l2])
                p += 2 + l2
                continue
            if m2 != 0xDA:
                raise ValueError(
                    f"unexpected marker 0xFF{m2:02X} inside a hierarchical frame"
                )
            saw_scan = True
            p = _next_marker(raw, p + 2 + l2)
        if not saw_scan:
            raise ValueError("JPEG hierarchical frame has no scan (missing SOS)")
        sub = (
            b"\xff\xd8" + prefix
            + b"\xff" + bytes([_SOF_TRANSLATE.get(marker, marker)])
            + raw[pos + 2:p] + b"\xff\xd9"
        )
        fw, fh, planes, fprec = jpeg_frame(sub, differential=diff)
        if fprec != dhp[0]:
            raise ValueError(
                f"hierarchical frame precision {fprec} differs from the DHP's "
                f"{dhp[0]} (unsupported here)"
            )
        if len(planes) != len(frame_cids):
            raise ValueError("hierarchical frame component count mismatch")
        top = (1 << fprec) - 1
        for idx, cid in enumerate(frame_cids):
            plane = planes[idx]
            if not diff:
                if cid in refs:
                    raise ValueError(
                        f"non-differential hierarchical frame re-codes "
                        f"component id {cid}"
                    )
                refs[cid] = (plane, fw, fh)
                continue
            if cid not in refs:
                raise ValueError(
                    f"differential frame for component id {cid} with no "
                    f"reference frame"
                )
            rplane, rw, rh = refs[cid]
            if rw != fw or rh != fh:
                # an odd full dimension makes the post-EXP reference one
                # sample larger than the frame (J.1.1.2) — crop; anything
                # bigger is a malformed pyramid
                if not (0 <= rw - fw <= 1 and 0 <= rh - fh <= 1):
                    raise ValueError(
                        f"differential frame {fw}x{fh} does not match the "
                        f"{rw}x{rh} reference (post-EXP crop is at most one "
                        f"row/column)"
                    )
                rplane = [
                    rplane[y * rw + x] for y in range(fh) for x in range(fw)
                ]
            if marker in _SOF_DIFF_LOSSLESS:
                out = [(rv + dv) & 0xFFFF for rv, dv in zip(rplane, plane)]
                if fprec < 16 and max(out, default=0) >> fprec:
                    raise ValueError(
                        f"hierarchical lossless sum exceeds the declared "
                        f"precision {fprec} (corrupt stream)"
                    )
            else:
                out = [
                    min(top, max(0, rv + dv)) for rv, dv in zip(rplane, plane)
                ]
            refs[cid] = (out, fw, fh)
        pos = p
    if dhp is None:
        raise ValueError("JPEG hierarchy reached EOI without a DHP segment")
    dprec, dh, dw, dcids = dhp
    missing = [cid for cid in dcids if cid not in refs]
    if missing:
        raise ValueError(
            f"JPEG hierarchy is missing frames for component id(s) {missing}"
        )
    for cid in dcids:
        _plane, rw, rh = refs[cid]
        if (rw, rh) != (dw, dh):
            raise ValueError(
                f"hierarchical component id {cid} finished at {rw}x{rh}, "
                f"DHP declares {dw}x{dh}"
            )
    return dw, dh, [refs[cid][0] for cid in dcids], dprec


def jpeg_planes(payload: bytes) -> tuple[int, int, list[list[int]]]:
    """`jpeg_frame` without the precision — the (width, height, planes)
    compatibility surface most callers (8-bit pipelines, MJPEG frames)
    use. Error contract as `jpeg_frame`."""
    w, h, planes, _prec = jpeg_frame(payload)
    return w, h, planes


def jpeg_pixels(payload: bytes) -> tuple[int, int, list[int]]:
    """Decode a baseline JPEG to (width, height, row-major LUMA pixels)
    — the single-plane compatibility surface (grayscale JPEGs decode to
    their only plane; color JPEGs to their Y plane). Error contract as
    `jpeg_planes`."""
    w, h, planes = jpeg_planes(payload)
    return w, h, planes[0]


def jpeg_decode(payload: bytes, dim: int = 8) -> list[float]:
    """Image codec for the `decode_features` seam: decode a baseline
    JPEG and emit the normalized ``dim``-bin LUMA histogram (same shape
    as `png_decode`/`pil_decode`; integer bin math, int/int division —
    bit-stable across engines). 4:2:0 color JPEGs append two more
    features: mean Cb and mean Cr of the upsampled chroma planes
    (exact-integer sums over the replicated values, so the oracle can
    recompute them from the fixture formula). Binning follows the
    frame's sample precision (v*dim >> prec — for 8-bit exactly the
    classic v*dim//256), so deep 12-bit SOF1 and 2-16-bit lossless
    frames histogram correctly instead of overrunning the bins."""
    w, h, planes, prec = jpeg_frame(payload)
    counts = [0] * dim
    for v in planes[0]:
        counts[(v * dim) >> prec] += 1
    n = max(len(planes[0]), 1)
    feats = [c / n for c in counts]
    if len(planes) == 3:
        feats.append(sum(planes[1]) / n)
        feats.append(sum(planes[2]) / n)
    return feats
