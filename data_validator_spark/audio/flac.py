"""Pure-python/numpy FLAC subset codec — REAL bitstream, no audio libs.

Implements the FLAC format (public spec / RFC 9639) for the subset
this engine's fixtures need, the same playbook as the pure-python PNG
codec in operators/imaging.py:

  encoder: mono, 16-bit, fixed-blocksize streams; CONSTANT and
      FIXED(0..2) subframes chosen per frame by residual cost; rice
      residuals (method 0, partition order 0) with per-partition
      parameter search and the spec's escape (raw-width) fallback;
      correct STREAMINFO (incl. the unencoded-audio MD5), frame-header
      CRC-8 and whole-frame CRC-16.
  decoder: mono frames with CONSTANT / VERBATIM / FIXED(0..4) and
      LPC(1..32) subframes, wasted bits, BOTH rice methods (4- and
      5-bit parameters) incl. escaped partitions, any partition
      order, all block-size / sample-rate / sample-size header
      codings, UTF-8-coded frame and sample numbers, CRC-8 + CRC-16
      verification, STREAMINFO MD5 verification. LPC restoration is
      an inherently sequential IIR recurrence, so that one path is a
      python int loop (_restore_lpc) — the compatibility path for
      externally produced files (our encoder emits FIXED subframes,
      restored by vectorized cumsum).

Everything is vectorized where it is hot: rice encode builds the bit
array with numpy cumsum/scatter (no per-sample python loop). Two
decoders share the frame-header, subframe-header, residual-partition-
header and finishing code:

  decode_flac (one stream): rice decode is a two-pass scheme —
      terminator positions hop through a precomputed one-count (rank)
      array at two O(1) scalar reads per code, then one numpy gather
      decodes every low-bit field at once; frame CRC-16s over >=2 KiB
      run as a numpy tree reduction (per-word positional tables +
      per-level shift tables).
  decode_flac_batch (many streams, the decode UDFs' path): every
      byte-aligned sync code of every stream is a candidate frame;
      the rice partitions of all candidates advance in numpy lockstep,
      one code per lane per step, over 64-bit windows of the batch's
      bytes; CRC-16s of all chained frames reduce together. Streams
      whose frames do not chain exactly, or fail any check, go to
      decode_flac, so both decoders give identical results.

Reference counterpart for WHY this codec exists: the per-row
decoded-PCM invariant the validation engine checks (BASELINE.json
input_hint; reference rt-bounds core_models.py:169-202).
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np


class FlacError(ValueError):
    """Malformed or unsupported-subset FLAC payload."""


MAGIC = b"fLaC"

# ----------------------------------------------------------------- CRCs

_CRC8_POLY = 0x07  # x^8 + x^2 + x + 1
_CRC16_POLY = 0x8005  # x^16 + x^15 + x^2 + 1


def _make_crc8_table() -> tuple[int, ...]:
    t = []
    for i in range(256):
        c = i
        for _ in range(8):
            c = ((c << 1) ^ _CRC8_POLY) & 0xFF if c & 0x80 else (c << 1) & 0xFF
        t.append(c)
    return tuple(t)


def _make_crc16_table() -> tuple[int, ...]:
    t = []
    for i in range(256):
        c = i << 8
        for _ in range(8):
            c = ((c << 1) ^ _CRC16_POLY) & 0xFFFF if c & 0x8000 else (c << 1) & 0xFFFF
        t.append(c)
    return tuple(t)


# native tuples, NOT numpy arrays: the per-byte loop below is the
# decode hot path and numpy scalar indexing costs ~5x a tuple index
_CRC8_TABLE = _make_crc8_table()
_CRC16_TABLE = _make_crc16_table()


def _make_crc16_table2() -> tuple[int, ...]:
    """Slice-by-2 table: T2[v] = (v * x^16) mod P for all 16-bit v, so
    an MSB-first CRC processes two bytes per lookup: c' = T2[c ^ word]
    (state XORs into the top 16 bits of the stream; linearity over
    GF(2) makes the single-lookup form exact)."""
    t1 = _CRC16_TABLE
    out = []
    for v in range(65536):
        c = t1[v >> 8]
        c = t1[(c >> 8) ^ (v & 0xFF)] ^ ((c << 8) & 0xFF00)
        out.append(c)
    return tuple(out)


_CRC16_TABLE2 = _make_crc16_table2()

# Vectorized CRC-16 (for segments >= _CRC16_VEC_MIN bytes, and for all
# frames of a batch at once in decode_flac_batch): CRC is
# linear over GF(2) with init 0, so crc(A||B) = shift_{|B|}(crc(A)) ^
# crc(B) and leading zero bytes are free. The kernel computes per-8-byte
# word CRCs with positional tables, then tree-reduces words pairwise
# with per-level shift-by-(8*2^lvl)-bytes tables (hi/lo byte
# decomposition of the 16-bit state keeps every table 256 entries).
# All numpy gathers — no per-byte python loop.
_CRC16_VEC_MIN = 2048  # measured crossover vs the slice-by-2 loop
_CRC_MATRIX_BYTES = 1 << 20  # padded segment bytes reduced together
_CRC16_VEC: list | None = None


def _zero_shift1(c: int) -> int:
    """Advance a CRC-16 state by one zero byte."""
    return _CRC16_TABLE[c >> 8] ^ ((c << 8) & 0xFFFF)


def _make_crc16_vec_tables(n_levels: int = 22) -> list:
    pos = np.zeros((8, 256), np.uint16)
    for v in range(256):
        c = _CRC16_TABLE[v]
        for j in range(7, -1, -1):
            pos[j, v] = c
            c = _zero_shift1(c)
    hi = np.zeros(256, np.uint16)
    lo = np.zeros(256, np.uint16)
    for v in range(256):
        c = v << 8
        for _ in range(8):
            c = _zero_shift1(c)
        hi[v] = c
        c = v
        for _ in range(8):
            c = _zero_shift1(c)
        lo[v] = c
    his, los = [hi], [lo]
    idx = np.arange(256)
    for _ in range(n_levels - 1):
        hi_p, lo_p = his[-1], los[-1]

        def app(c):  # shift by the previous level's byte count
            return (hi_p[c >> 8] ^ lo_p[c & 0xFF]).astype(np.uint16)

        his.append(app(app((idx << 8).astype(np.uint16))))
        los.append(app(app(idx.astype(np.uint16))))
    return [pos, his, los]


def _crc16_many(buf: np.ndarray, starts: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """CRC-16 of every segment buf[starts[i]:ends[i]] -> uint16 array.
    Segments with the same power-of-two word count are front-padded
    with zeros (free for a zero-init CRC) into one matrix, at most
    _CRC_MATRIX_BYTES at a time, and reduced together."""
    global _CRC16_VEC
    if _CRC16_VEC is None:
        _CRC16_VEC = _make_crc16_vec_tables()
    pos, his, los = _CRC16_VEC
    lens = ends - starts
    nw = np.maximum(-(-lens // 8), 1)
    lvls = np.ceil(np.log2(nw)).astype(np.int64)
    out = np.empty(len(starts), np.uint16)
    for lvl in np.unique(lvls).tolist():
        width = 8 << lvl
        group = np.flatnonzero(lvls == lvl)
        step = max(1, _CRC_MATRIX_BYTES // width)
        for g0 in range(0, len(group), step):
            sel = group[g0 : g0 + step]
            m = np.zeros((len(sel), width), np.uint8)
            for row, i in enumerate(sel.tolist()):
                a, b = int(starts[i]), int(ends[i])
                m[row, width - (b - a) :] = buf[a:b]
            w = m.reshape(len(sel), -1, 8)
            c = pos[0][w[:, :, 0]]
            for j in range(1, 8):
                c ^= pos[j][w[:, :, j]]
            for t in range(lvl):
                a = c[:, 0::2]
                c = (his[t][a >> 8] ^ los[t][a & 0xFF]) ^ c[:, 1::2]
            out[sel] = c[:, 0]
    return out


def crc8(data) -> int:
    c = 0
    t = _CRC8_TABLE
    for b in bytes(data):
        c = t[c ^ b]
    return c


def crc16(data) -> int:
    if len(data) >= _CRC16_VEC_MIN:
        arr = data if isinstance(data, np.ndarray) else np.frombuffer(bytes(data), np.uint8)
        return int(_crc16_many(arr, np.zeros(1, np.int64), np.array([len(arr)]))[0])
    b = bytes(data)
    c = 0
    t2 = _CRC16_TABLE2
    n2 = len(b) & ~1
    for i in range(0, n2, 2):
        c = t2[c ^ ((b[i] << 8) | b[i + 1])]
    if len(b) & 1:
        c = _CRC16_TABLE[(c >> 8) ^ b[-1]] ^ ((c << 8) & 0xFF00)
    return c


# ----------------------------------------------------------------- bit I/O


class _BitWriter:
    """MSB-first bit accumulator backed by numpy bit chunks: scalar
    fields append tiny arrays, bulk stages (rice / verbatim) append
    one pre-built array — no per-sample python loop anywhere."""

    def __init__(self) -> None:
        self.chunks: list[np.ndarray] = []
        self.nbits = 0

    def write(self, v: int, k: int) -> None:
        if k == 0:
            return
        arr = ((int(v) >> np.arange(k - 1, -1, -1)) & 1).astype(np.uint8)
        self.chunks.append(arr)
        self.nbits += k

    def write_bits(self, arr: np.ndarray) -> None:
        self.chunks.append(arr.astype(np.uint8, copy=False))
        self.nbits += len(arr)

    def write_bytes(self, data: bytes) -> None:
        if self.nbits % 8:
            raise FlacError("write_bytes on unaligned writer")
        self.write_bits(np.unpackbits(np.frombuffer(data, np.uint8)))

    def align(self) -> None:
        pad = (-self.nbits) % 8
        if pad:
            self.write(0, pad)

    def tobytes(self) -> bytes:
        self.align()
        if not self.chunks:
            return b""
        return np.packbits(np.concatenate(self.chunks)).tobytes()


def _signed_values(bits: np.ndarray, count: int, width: int) -> np.ndarray:
    """count * width unpacked bits, MSB first -> count width-bit
    two's-complement values."""
    if width == 0:
        return np.zeros(count, np.int64)
    vals = bits.reshape(count, width).astype(np.int64) @ (
        np.int64(1) << np.arange(width - 1, -1, -1, dtype=np.int64)
    )
    half = np.int64(1) << (width - 1)
    return np.where(vals >= half, vals - (half << 1), vals)


class _BitReader:
    """MSB-first reader over an unpacked bit array, with the 1-bit
    position index that makes bulk rice decode cheap."""

    def __init__(self, data: bytes) -> None:
        self.raw = np.frombuffer(data, np.uint8)
        self.bits = np.unpackbits(self.raw)
        # bool view: nonzero() scans it ~2x faster than uint8
        self.ones = np.flatnonzero(self.bits.view(bool))
        self.n = len(self.bits)
        self.pos = 0
        self._rank: np.ndarray | None = None
        self._nxt: dict[int, np.ndarray] = {}

    def rank(self) -> np.ndarray:
        """Inclusive one-count: rank()[p] = number of 1-bits at
        positions <= p — equivalently the index (into `ones`) of the
        first 1-bit strictly after p. Built lazily, once per stream."""
        if self._rank is None:
            self._rank = np.cumsum(self.bits, dtype=np.int32)
        return self._rank

    def read(self, k: int) -> int:
        if k == 0:
            return 0
        if self.pos + k > self.n:
            raise FlacError("truncated stream")
        sl = self.bits[self.pos : self.pos + k]
        self.pos += k
        v = 0
        for bit in sl.tolist():
            v = (v << 1) | bit
        return v

    def read_unary(self) -> int:
        i = int(np.searchsorted(self.ones, self.pos))
        if i == len(self.ones):
            raise FlacError("truncated unary code")
        t = int(self.ones[i])
        q = t - self.pos
        self.pos = t + 1
        return q

    def read_signed_array(self, count: int, width: int) -> np.ndarray:
        end = self.pos + count * width
        if end > self.n:
            raise FlacError("truncated sample block")
        vals = _signed_values(self.bits[self.pos : end], count, width)
        self.pos = end
        return vals

    def read_rice_array(self, count: int, k: int) -> np.ndarray:
        """count rice(k) codes -> signed residuals. Pass 1 finds each
        code's unary terminator via the rank array: from terminator t,
        the next terminator is the first 1-bit after the k suffix bits,
        i.e. ones[rank[t + k]] — two O(1) scalar reads per code, no
        bisect (measured ~2.4x the bisect scan; suffix 1-bits are
        skipped by construction because rank jumps straight over them).
        Pass 2: one numpy gather decodes all k-bit suffixes at once."""
        if count == 0:
            return np.zeros(0, np.int64)
        ones = self.ones
        rank = self.rank()
        p0 = self.pos
        # nxt[j]: index of the terminator that follows ones[j]'s k
        # suffix bits (clamped reads past the stream end resolve to the
        # out-of-range sentinel len(ones) and raise in the hop below);
        # cached per k — frames overwhelmingly reuse one rice parameter.
        # The walk indexes a zero-copy memoryview, not the ndarray:
        # mv[c] is a plain C fetch (~40 ns/hop) where ndarray.item(c)
        # pays numpy dispatch (~105 ns/hop, measured).
        nxt = self._nxt.get(k)
        if nxt is None:
            nxt = memoryview(rank[np.minimum(ones + k, self.n - 1)])
            self._nxt[k] = nxt
        # index of the first 1-bit at position >= p0
        c = int(rank[p0 - 1]) if p0 > 0 else 0
        seq = [0] * count
        try:
            for i in range(count):
                seq[i] = c
                c = nxt[c]
        except IndexError:
            raise FlacError("truncated rice stream") from None
        t_arr = ones[np.asarray(seq, np.int64)]
        p = int(t_arr[-1]) + 1 + k
        if p > self.n:
            raise FlacError("truncated rice suffix bits")
        self.pos = p
        # unary start_i chains from the previous terminator:
        # start_0 = p0, start_i = t_{i-1} + 1 + k; quotient = t - start
        starts = np.empty(count, np.int64)
        starts[0] = p0
        if count > 1:
            starts[1:] = t_arr[:-1] + 1 + k
        q = t_arr - starts
        if k:
            idx = (t_arr + 1)[:, None] + np.arange(k)
            lows = self.bits[idx].astype(np.int64) @ (
                np.int64(1) << np.arange(k - 1, -1, -1, dtype=np.int64)
            )
            u = (q << k) | lows
        else:
            u = q
        return (u >> 1) ^ -(u & 1)  # zigzag decode


# ------------------------------------------------------- UTF-8-coded numbers


def _utf8_encode(v: int) -> bytes:
    """FLAC's extended UTF-8 number coding (frame/sample numbers,
    up to 36 bits / 7 bytes)."""
    if v < 0x80:
        return bytes([v])
    for n in range(2, 8):
        if v < (1 << (5 * n + 1)):
            out = bytearray(n)
            for i in range(n - 1, 0, -1):
                out[i] = 0x80 | (v & 0x3F)
                v >>= 6
            out[0] = ((0xFF00 >> n) & 0xFF) | v
            return bytes(out)
    raise FlacError("frame number too large for UTF-8 coding")


def _utf8_decode(r: _BitReader) -> int:
    b0 = r.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    mask = 0x80
    while b0 & mask:
        n += 1
        mask >>= 1
    if n < 2 or n > 7:
        raise FlacError("invalid UTF-8 number prefix")
    v = b0 & (0x7F >> n)
    for _ in range(n - 1):
        b = r.read(8)
        if (b & 0xC0) != 0x80:
            raise FlacError("invalid UTF-8 continuation byte")
        v = (v << 6) | (b & 0x3F)
    return v


# ----------------------------------------------------------------- encoder

_SR_CODE = {
    88200: 1, 176400: 2, 192000: 3, 8000: 4, 16000: 5, 22050: 6,
    24000: 7, 32000: 8, 44100: 9, 48000: 10, 96000: 11,
}
_BS_CODE = {192: 1, 576: 2, 1152: 3, 2304: 4, 4608: 5,
            256: 8, 512: 9, 1024: 10, 2048: 11, 4096: 12,
            8192: 13, 16384: 14, 32768: 15}


def _zigzag(res: np.ndarray) -> np.ndarray:
    return (res << 1) ^ (res >> 63)


def _rice_bit_array(u: np.ndarray, k: int) -> np.ndarray:
    """All rice(k) codes of a partition as one uint8 bit array:
    terminator positions and suffix bits placed by numpy scatter."""
    q = u >> k
    ends = np.cumsum(q + 1 + k)
    bits = np.zeros(int(ends[-1]), np.uint8)
    bits[ends - k - 1] = 1  # unary terminators
    if k:
        starts = ends - k
        idx = starts[:, None] + np.arange(k)
        bits[idx] = ((u[:, None] >> np.arange(k - 1, -1, -1)) & 1).astype(np.uint8)
    return bits


def _signed_bit_array(vals: np.ndarray, width: int) -> np.ndarray:
    return (
        (vals[:, None] >> np.arange(width - 1, -1, -1)) & 1
    ).astype(np.uint8).reshape(-1)


def _write_residual(bw: _BitWriter, res: np.ndarray) -> None:
    """Rice method 0 (4-bit parameters), partition order 0, parameter
    chosen by exact cost over k=0..18, with the spec escape (0b1111 +
    5-bit raw width) when raw coding is cheaper."""
    u = _zigzag(res)
    cnt = len(u)
    costs = [cnt * (k + 1) + int((u >> k).sum()) for k in range(19)]
    k = int(np.argmin(costs))
    amax = int(np.abs(res).max()) if cnt else 0
    esc_width = amax.bit_length() + 1 if amax else 0
    esc_cost = 5 + cnt * esc_width
    bw.write(0b00, 2)  # residual method: rice, 4-bit params
    bw.write(0, 4)  # partition order 0
    if k <= 14 and costs[k] <= esc_cost:
        bw.write(k, 4)
        bw.write_bits(_rice_bit_array(u, k))
    else:
        bw.write(0b1111, 4)  # escape
        bw.write(esc_width, 5)
        if esc_width:
            bw.write_bits(_signed_bit_array(res, esc_width))


def _write_subframe(bw: _BitWriter, x: np.ndarray, bps: int) -> None:
    mask = (1 << bps) - 1
    if np.all(x == x[0]):
        bw.write(0, 1)
        bw.write(0b000000, 6)  # CONSTANT
        bw.write(0, 1)  # no wasted bits
        bw.write(int(x[0]) & mask, bps)
        return
    max_order = min(2, len(x) - 1)
    best_order, best_cost = 0, None
    for o in range(max_order + 1):
        cost = int(np.abs(np.diff(x, n=o)).sum())
        if best_cost is None or cost < best_cost:
            best_order, best_cost = o, cost
    o = best_order
    bw.write(0, 1)
    bw.write(0b001000 | o, 6)  # FIXED, order o
    bw.write(0, 1)  # no wasted bits
    for w in x[:o]:
        bw.write(int(w) & mask, bps)
    _write_residual(bw, np.diff(x, n=o).astype(np.int64))


def _lpc_coef_set(order: int) -> tuple[np.ndarray, int, int]:
    """Deterministic quantized predictor for the LPC-emitting encoder
    path: order-2 backbone (2*x[i-1] - x[i-2], the shape libFLAC's
    low orders converge to) padded with small alternating taps so the
    full requested order is exercised. Returns (coefs, shift, prec);
    coefs fit FLAC's 15-bit signed range at shift 12."""
    sh = 12
    c = np.zeros(order, np.int64)
    c[0] = 2 << sh
    if order > 1:
        c[1] = -(1 << sh)
    for j in range(2, order):
        c[j] = (7 - j) if j % 2 == 0 else (j - 6)
    return c, sh, 15


def _write_subframe_lpc(
    bw: _BitWriter, x: np.ndarray, bps: int, order: int
) -> None:
    """Emit an LPC subframe (RFC 9639 §9.2.2) with the deterministic
    _lpc_coef_set predictor: warmup, coef block, residuals computed
    with the exact integer arithmetic the decoder must invert. The
    encoder path for LPC-heavy external-file stand-ins (the bench
    corpus tools/flac_lpc_bench.py decodes)."""
    coefs, shift, prec = _lpc_coef_set(order)
    mask = (1 << bps) - 1
    # acc[i] = sum_j coefs[j] * x[i-1-j] for i in [order, n):
    # windows x[i-order .. i-1] dotted with reversed coefs
    win = np.lib.stride_tricks.sliding_window_view(x, order)[:-1]
    acc = win @ coefs[::-1]
    res = x[order:] - (acc >> shift)
    bw.write(0, 1)
    bw.write(32 + order - 1, 6)  # LPC subframe, order
    bw.write(0, 1)  # no wasted bits
    for w in x[:order]:
        bw.write(int(w) & mask, bps)
    bw.write(prec - 1, 4)
    bw.write(shift, 5)
    cmask = (1 << prec) - 1
    for cv in coefs:
        bw.write(int(cv) & cmask, prec)
    _write_residual(bw, res.astype(np.int64))


def encode_flac(
    pcm: np.ndarray,
    sr_hz: int,
    blocksize: int = 4096,
    lpc_order: int | None = None,
) -> bytes:
    """float32 [-1,1] mono -> FLAC bytes (16-bit, fixed blocksize).

    lpc_order (1..32) switches subframes to the LPC-emitting path —
    the stand-in for externally-produced (libFLAC) files, whose
    decode exercises _restore_lpc/_restore_lpc_batch instead of the
    vectorized FIXED inversion. Blocks shorter than order+1 samples
    fall back to the FIXED writer."""
    sr_hz = int(sr_hz)
    if not (1 <= sr_hz < (1 << 20)):
        raise FlacError(f"sample rate {sr_hz} out of FLAC range")
    if lpc_order is not None and not 1 <= lpc_order <= 32:
        raise FlacError(f"lpc_order {lpc_order} outside 1..32")
    i16 = (np.clip(np.asarray(pcm, np.float64), -1.0, 1.0) * 32767.0).round()
    x_all = i16.astype(np.int64)
    n_total = len(x_all)
    md5 = hashlib.md5(x_all.astype("<i2").tobytes()).digest()

    out = bytearray(MAGIC)
    # STREAMINFO: last-metadata flag set, type 0, length 34
    si = bytearray()
    si += struct.pack(">HH", min(blocksize, max(1, n_total)), blocksize)
    si += b"\x00\x00\x00" * 2  # min/max framesize unknown
    packed = (sr_hz << 44) | (0 << 41) | ((16 - 1) << 36) | n_total
    si += packed.to_bytes(8, "big")
    si += md5
    out += bytes([0x80]) + struct.pack(">I", len(si))[1:] + si

    sr_code = _SR_CODE.get(sr_hz)
    if sr_code is None:
        sr_code = 0b1101 if sr_hz < 65536 else 0b1110 if sr_hz < 655360 else 0
    idx = 0
    for start in range(0, n_total, blocksize):
        block = x_all[start : start + blocksize]
        bs = len(block)
        bs_code = _BS_CODE.get(bs, 0b0111)
        hdr = bytearray(b"\xff\xf8")
        hdr.append((bs_code << 4) | sr_code)
        hdr.append((0b0000 << 4) | (0b100 << 1))  # mono, 16-bit, reserved 0
        hdr += _utf8_encode(idx)
        if bs_code == 0b0111:
            hdr += struct.pack(">H", bs - 1)
        if sr_code == 0b1101:
            hdr += struct.pack(">H", sr_hz)
        elif sr_code == 0b1110:
            hdr += struct.pack(">H", sr_hz // 10)
        hdr.append(crc8(hdr))
        bw = _BitWriter()
        bw.write_bytes(bytes(hdr))
        if lpc_order and len(block) > lpc_order and not np.all(
            block == block[0]
        ):
            _write_subframe_lpc(bw, block, 16, lpc_order)
        else:
            _write_subframe(bw, block, 16)
        frame = bw.tobytes()
        out += frame + struct.pack(">H", crc16(frame))
        idx += 1
    return bytes(out)


# ----------------------------------------------------------------- decoder

_SR_TABLE = {1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
             7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000}
_BPS_TABLE = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24}


def _restore_fixed(warm: np.ndarray, res: np.ndarray, order: int) -> np.ndarray:
    """Invert the order-o finite difference: o cumulative sums, each
    seeded from the warmup's difference pyramid."""
    if order == 0:
        return res.astype(np.int64, copy=False)
    pyramid = [warm.astype(np.int64)]
    for _ in range(order - 1):
        pyramid.append(np.diff(pyramid[-1]))
    cur = res.astype(np.int64)
    for lvl in range(order, 0, -1):
        base = pyramid[lvl - 1][-1]
        cur = base + np.cumsum(cur)
    return np.concatenate([warm, cur])


def _make_lpc_kernel(order: int):
    """Compile an order-specialized restoration loop: the inner
    product is unrolled into `c0*x0 + c1*x1 + ...` over local
    variables (no per-sample list indexing or inner loop), the same
    specialize-per-plan idea as Spark's whole-stage codegen, applied
    python-side. Coefs stay call arguments so one kernel per ORDER is
    compiled and cached, not one per subframe. Measured 4.1x over the
    naive indexed loop at order 8 (2,284 vs 552 ksamples/s)."""
    cn = ", ".join(f"c{j}" for j in range(order))
    xn = ", ".join(f"x{j}" for j in range(order))
    terms = " + ".join(f"c{j}*x{j}" for j in range(order))
    shifts = "; ".join(f"x{j}=x{j-1}" for j in range(order - 1, 0, -1))
    body = f"{shifts}; x0 = v" if order > 1 else "x0 = v"
    src = (
        f"def _k(coefs, warm, shift, res_list, app):\n"
        f"    {cn}{',' if order == 1 else ''} = coefs\n"
        f"    {xn}{',' if order == 1 else ''} = warm\n"
        f"    for rv in res_list:\n"
        f"        v = rv + (({terms}) >> shift)\n"
        f"        app(v)\n"
        f"        {body}\n"
    )
    ns: dict = {}
    exec(src, ns)  # noqa: S102 - generated from `order` (an int) only
    return ns["_k"]


_LPC_KERNELS: dict = {}


def _restore_lpc(
    warm: np.ndarray, coefs: np.ndarray, shift: int, res: np.ndarray
) -> np.ndarray:
    """Invert LPC prediction: x[i] = res[i] +
    (sum_j coefs[j] * x[i-1-j]) >> shift  (coefs[0] applies to the
    most recent sample, per RFC 9639 §9.2.2; >> is arithmetic, which
    Python's int >> already is).

    Inherently sequential (an IIR recurrence — the truncating shift
    feeds back, so no exact closed-form vectorization exists), so
    this stays a python-int loop, but an order-specialized unrolled
    kernel (_make_lpc_kernel) rather than a per-sample indexed inner
    loop. The decode-compatibility path for externally produced FLAC
    files; our encoder emits FIXED subframes whose restoration is
    vectorized cumsum (_restore_fixed). Magnitudes stay well inside
    python int exactness (order<=32, 15-bit coefs, 33-bit samples)."""
    order = len(coefs)
    kernel = _LPC_KERNELS.get(order)
    if kernel is None:
        kernel = _LPC_KERNELS[order] = _make_lpc_kernel(order)
    out = [int(v) for v in warm]
    kernel(
        [int(c) for c in coefs],
        [int(v) for v in reversed(warm)],
        shift,
        res.tolist(),
        out.append,
    )
    try:
        x = np.asarray(out, dtype=np.int64)
    except OverflowError:
        # adversarial coef/residual combinations make the recurrence
        # explode past int64; no legal stream does (samples fit 32
        # bits) -> a decode failure, not a crash
        raise FlacError("lpc restoration overflow")
    if int(np.abs(x).max(initial=0)) >= _LPC_SAFE_ABS:
        raise FlacError("lpc restoration overflow")
    return x


class _DeferredLpc:
    """Placeholder for an LPC subframe whose restoration is deferred
    so same-shaped subframes across the whole stream can be restored
    in ONE vectorized numpy pass (_restore_lpc_batch) instead of one
    python recurrence per subframe. Long externally-produced LPC
    files have hundreds-to-thousands of equal-blocksize frames, so
    batching across them turns the per-sample python cost into a
    per-sample-per-BATCH numpy cost."""

    __slots__ = ("warm", "coefs", "shift", "res", "wasted")

    def __init__(self, warm, coefs, shift, res, wasted):
        self.warm = warm
        self.coefs = coefs
        self.shift = shift
        self.res = res
        self.wasted = wasted

    def __len__(self):  # frame accounting before restoration
        return len(self.warm) + len(self.res)

    def restore_single(self) -> np.ndarray:
        x = _restore_lpc(self.warm, self.coefs, self.shift, self.res)
        return x << self.wasted if self.wasted else x


# batch groups smaller than this restore via the unrolled python
# kernel (numpy per-step overhead only amortizes across many lanes)
_LPC_BATCH_MIN = 8
# |sample| bound certifying the int64 batch never overflowed: with
# order<=32 and |coef|<2^14, |acc| <= 2^5 * 2^14 * 2^39 = 2^58 < 2^62
_LPC_SAFE_ABS = 1 << 39


def _restore_lpc_batch(subs: list[_DeferredLpc]) -> list[np.ndarray] | None:
    """Restore S same-(order, length) LPC subframes in one vectorized
    recurrence: state (S, order), one numpy step per sample index.
    Exactness: numpy's >> on int64 is arithmetic and the dot product
    stays below 2^58 while every sample is below _LPC_SAFE_ABS, so
    this is bit-identical to the python-int kernel on any stream
    whose samples fit 39 bits (every legal FLAC stream: bps <= 32).
    Returns None when a lane exceeded the certified range (possible
    only for adversarial residuals) — caller falls back to the exact
    python kernel for that group."""
    S = len(subs)
    order = len(subs[0].coefs)
    n = len(subs[0].res)
    # (time, lane) layout: each step reads `order` CONTIGUOUS rows of
    # S lanes (cache-friendly); coefs reversed so the window
    # out[i:i+order] (oldest..newest) dots directly against them
    Crev = np.stack([s.coefs[::-1] for s in subs], axis=1).astype(np.int64)
    R = np.stack([s.res for s in subs], axis=1).astype(np.int64)  # (n, S)
    sh = np.array([s.shift for s in subs], np.int64)
    out = np.empty((order + n, S), np.int64)
    for i, s in enumerate(subs):
        out[:order, i] = s.warm
    for i in range(n):
        acc = (out[i : i + order] * Crev).sum(axis=0)
        out[order + i] = R[i] + (acc >> sh)
    if int(np.abs(out).max(initial=0)) >= _LPC_SAFE_ABS:
        return None
    return [np.ascontiguousarray(out[:, i]) for i in range(S)]


def _restore_deferred(blocks: list) -> None:
    """Replace every _DeferredLpc in `blocks` with its restored
    samples, batching same-(order, length) groups."""
    groups: dict[tuple[int, int], list[int]] = {}
    for i, b in enumerate(blocks):
        if isinstance(b, _DeferredLpc):
            groups.setdefault((len(b.coefs), len(b.res)), []).append(i)
    for idxs in groups.values():
        subs = [blocks[i] for i in idxs]
        batched = (
            _restore_lpc_batch(subs) if len(subs) >= _LPC_BATCH_MIN else None
        )
        if batched is None:
            for i in idxs:
                blocks[i] = blocks[i].restore_single()
        else:
            for i, x in zip(idxs, batched):
                w = blocks[i].wasted
                blocks[i] = x << w if w else x


def _read_residual_header(r, bs: int, order: int) -> tuple[int, int]:
    """Residual coding method and partition order -> (bits of each
    partition's rice parameter, partition order)."""
    method = r.read(2)
    if method > 1:
        raise FlacError("reserved residual coding method")
    po = r.read(4)
    nparts = 1 << po
    if bs % nparts or (bs >> po) <= order and nparts > 1:
        raise FlacError("invalid rice partition order")
    return 4 + method, po


def _partition_len(bs: int, po: int, order: int, j: int) -> int:
    """Residual count of partition j (the warm-up samples precede the
    first partition's residuals)."""
    cnt = (bs >> po) - (order if j == 0 else 0)
    if cnt < 0:
        raise FlacError("invalid rice partition order")
    return cnt


def _read_partition_param(r, plen: int, cnt: int):
    """A partition's rice parameter -> (k, None), or (None, its values)
    for an escaped partition (a 5-bit width, then cnt raw values)."""
    k = r.read(plen)
    if k == (1 << plen) - 1:
        return None, r.read_signed_array(cnt, r.read(5))
    return k, None


def _read_residual(r: _BitReader, bs: int, order: int) -> np.ndarray:
    plen, po = _read_residual_header(r, bs, order)
    parts = []
    for j in range(1 << po):
        cnt = _partition_len(bs, po, order, j)
        k, vals = _read_partition_param(r, plen, cnt)
        parts.append(r.read_rice_array(cnt, k) if vals is None else vals)
    return parts[0] if len(parts) == 1 else np.concatenate(parts)


def _sign_extend(v: int, width: int) -> int:
    return v - (1 << width) if v >= (1 << (width - 1)) else v


class _Subframe:
    """A parsed subframe header: everything before the sample body
    (VERBATIM samples or the residual)."""

    __slots__ = ("kind", "wasted", "eff", "order", "warm", "coefs", "shift",
                 "value")

    def __init__(self, kind, wasted, eff, order=0, warm=None, coefs=None,
                 shift=0, value=0):
        self.kind = kind  # 0 CONSTANT, 1 VERBATIM, 8 FIXED, 32 LPC
        self.wasted = wasted
        self.eff = eff
        self.order = order
        self.warm = warm
        self.coefs = coefs
        self.shift = shift
        self.value = value


def _read_subframe_header(r, bs: int, bps: int) -> _Subframe:
    if r.read(1):
        raise FlacError("subframe padding bit set")
    t = r.read(6)
    wasted = 0
    if r.read(1):
        wasted = r.read_unary() + 1
    eff = bps - wasted
    if eff <= 0:
        raise FlacError("wasted bits exceed sample size")
    if t == 0:  # CONSTANT
        return _Subframe(0, wasted, eff, value=_sign_extend(r.read(eff), eff))
    if t == 1:  # VERBATIM
        return _Subframe(1, wasted, eff)
    if 8 <= t <= 12:  # FIXED order 0..4
        order = t - 8
        if order > bs:
            raise FlacError("fixed order exceeds blocksize")
        warm = r.read_signed_array(order, eff)
        return _Subframe(8, wasted, eff, order, warm)
    if t >= 32:  # LPC, order 1..32
        order = t - 31
        if order > bs:
            raise FlacError("lpc order exceeds blocksize")
        warm = r.read_signed_array(order, eff)
        prec = r.read(4)
        if prec == 15:
            raise FlacError("invalid LPC coefficient precision")
        prec += 1
        shift = _sign_extend(r.read(5), 5)
        if shift < 0:
            # negative shifts are spec-reserved-in-practice; no real
            # encoder emits them (libFLAC clamps at 0)
            raise FlacError("negative LPC shift")
        coefs = r.read_signed_array(order, prec)
        return _Subframe(32, wasted, eff, order, warm, coefs, shift)
    raise FlacError("reserved subframe type")


def _subframe_samples(sub: _Subframe, bs: int, body):
    """Samples of a subframe from its header and body (VERBATIM samples
    or the residual). LPC subframes come back as _DeferredLpc: same-
    shaped LPC subframes of a stream restore together in one batch."""
    if sub.kind == 0:
        x = np.full(bs, sub.value, np.int64)
    elif sub.kind == 1:
        x = body
    elif sub.kind == 8:
        x = _restore_fixed(sub.warm, body, sub.order)
    else:
        return _DeferredLpc(sub.warm, sub.coefs, sub.shift, body, sub.wasted)
    return x << sub.wasted if sub.wasted else x


def _read_subframe(r: _BitReader, bs: int, bps: int):
    sub = _read_subframe_header(r, bs, bps)
    body = None
    if sub.kind == 1:
        body = r.read_signed_array(bs, sub.eff)
    elif sub.kind >= 8:
        body = _read_residual(r, bs, sub.order)
    return _subframe_samples(sub, bs, body)


def _read_metadata(payload: bytes) -> tuple[dict, int]:
    """-> (STREAMINFO fields, byte offset of the first frame)."""
    if len(payload) < 42 or payload[:4] != MAGIC:
        raise FlacError("not a FLAC payload")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(payload):
            raise FlacError("truncated metadata")
        hdr = payload[pos]
        blen = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        btype = hdr & 0x7F
        body = payload[pos + 4 : pos + 4 + blen]
        if len(body) != blen:
            raise FlacError("truncated metadata block")
        if btype == 0:
            if blen != 34:
                raise FlacError("bad STREAMINFO length")
            sr = (body[10] << 12) | (body[11] << 4) | (body[12] >> 4)
            n_ch = ((body[12] >> 1) & 0x7) + 1
            bps = (((body[12] & 1) << 4) | (body[13] >> 4)) + 1
            total = ((body[13] & 0x0F) << 32) | int.from_bytes(body[14:18], "big")
            streaminfo = {"sr": sr, "ch": n_ch, "bps": bps,
                          "total": total, "md5": body[18:34],
                          "max_bs": int.from_bytes(body[2:4], "big")}
        pos += 4 + blen
        if hdr & 0x80:
            break
    if streaminfo is None:
        raise FlacError("missing STREAMINFO")
    if streaminfo["ch"] != 1:
        raise FlacError("only mono FLAC subset supported")
    if streaminfo["sr"] <= 0:
        raise FlacError("invalid sample rate in STREAMINFO")
    return streaminfo, pos


def _read_frame_header(r, si: dict, frame_start: int,
                       expect: tuple[int, int] | None = None) -> tuple:
    """Frame header at the reader's (byte-aligned) position, through its
    CRC-8 -> (blocksize, bits per sample, blocking strategy, frame or
    sample number). `expect` = (frame index, samples decoded so far)
    checks the number against the stream's sequence; the batch decoder
    passes None and checks the sequence when it chains frames."""
    if r.read(14) != 0b11111111111110:
        raise FlacError("bad frame sync")
    if r.read(1):
        raise FlacError("reserved header bit set")
    blocking = r.read(1)
    bs_code = r.read(4)
    sr_code = r.read(4)
    ch_code = r.read(4)
    ss_code = r.read(3)
    if r.read(1):
        raise FlacError("reserved header bit set")
    num = _utf8_decode(r)
    if expect is not None:
        if blocking == 0 and num != expect[0]:
            raise FlacError("frame number out of sequence")
        if blocking == 1 and num != expect[1]:
            raise FlacError("sample number out of sequence")
    if bs_code == 0:
        raise FlacError("reserved blocksize code")
    elif bs_code == 1:
        bs = 192
    elif 2 <= bs_code <= 5:
        bs = 576 << (bs_code - 2)
    elif bs_code == 6:
        bs = r.read(8) + 1
    elif bs_code == 7:
        bs = r.read(16) + 1
    else:
        bs = 256 << (bs_code - 8)
    if sr_code in _SR_TABLE:
        sr = _SR_TABLE[sr_code]
    elif sr_code == 0:
        sr = si["sr"]
    elif sr_code == 12:
        sr = r.read(8) * 1000
    elif sr_code == 13:
        sr = r.read(16)
    elif sr_code == 14:
        sr = r.read(16) * 10
    else:
        raise FlacError("invalid sample-rate code")
    if sr != si["sr"]:
        raise FlacError("frame sample rate disagrees with STREAMINFO")
    if ch_code != 0:
        raise FlacError("only mono FLAC subset supported")
    bps = si["bps"] if ss_code == 0 else _BPS_TABLE.get(ss_code)
    if bps is None:
        raise FlacError("unsupported sample-size code")
    if r.pos % 8:
        raise FlacError("frame header misaligned")
    if r.read(8) != crc8(r.raw[frame_start : r.pos // 8 - 1]):
        raise FlacError("frame header CRC-8 mismatch")
    return bs, bps, blocking, num


def _finish(blocks: list, si: dict) -> tuple[np.ndarray, int]:
    """Frame sample blocks of a whole stream -> (float32 pcm, sr):
    deferred LPC restoration, the STREAMINFO MD5 check, scaling."""
    _restore_deferred(blocks)
    pcm_i = np.concatenate(blocks) if blocks else np.zeros(0, np.int64)
    bps0 = si["bps"]
    if si["md5"] != b"\x00" * 16 and bps0 in (8, 16, 24):
        dtype = {8: "<i1", 16: "<i2", 24: None}[bps0]
        if dtype is not None:
            got = hashlib.md5(pcm_i.astype(dtype).tobytes()).digest()
            if got != si["md5"]:
                raise FlacError("decoded audio MD5 mismatch")
    scale = float((1 << (bps0 - 1)) - 1)
    return (pcm_i / scale).astype(np.float32), si["sr"]


def decode_flac(payload: bytes) -> tuple[np.ndarray, int]:
    """FLAC bytes -> (mono float32 pcm in [-1, 1], sr_hz). Verifies
    frame sync, header CRC-8, frame CRC-16 and the STREAMINFO MD5."""
    payload = bytes(payload)
    streaminfo, pos = _read_metadata(payload)
    r = _BitReader(payload[pos:])
    blocks: list[np.ndarray] = []
    decoded = 0
    frame_idx = 0
    while decoded < streaminfo["total"]:
        if r.pos % 8:
            raise FlacError("frame not byte-aligned")
        frame_start = r.pos // 8
        bs, bps, _, _ = _read_frame_header(
            r, streaminfo, frame_start, (frame_idx, decoded)
        )
        x = _read_subframe(r, bs, bps)
        pad = (-r.pos) % 8
        if pad and r.read(pad) != 0:
            raise FlacError("nonzero frame padding")
        if r.read(16) != crc16(r.raw[frame_start : r.pos // 8 - 2]):
            raise FlacError("frame CRC-16 mismatch")
        if decoded + bs > streaminfo["total"]:
            raise FlacError("frames exceed STREAMINFO total samples")
        blocks.append(x)
        decoded += bs
        frame_idx += 1
    return _finish(blocks, streaminfo)


# ------------------------------------------------------------ batch decoder
#
# decode_flac_batch decodes many streams at once. Its lanes are FRAMES:
# every byte-aligned sync code of every stream is a candidate frame, its
# header (CRC-8 checked) and subframe header are parsed by the serial
# code above, and the rice partitions of all candidates are then walked
# in numpy lockstep — one numpy step advances every lane by one code.
# A stream is accepted only when its frames chain exactly from the
# first frame to the STREAMINFO total, pass the serial decoder's
# per-frame checks (CRC-16 in one vectorized reduction) and the MD5;
# candidates at false sync positions never join a chain. Anything else
# is left to decode_flac, so accepted streams decode bit-identically
# and rejected ones get the serial error text.

_CHUNK_BYTES = 4 << 20  # payload bytes decoded together (working-set cap)
_WALK_BLOCK = 128  # lockstep steps between residual extractions
_UNARY1: np.ndarray | None = None  # built on first use, see _rice_walk


class _Frame:
    """One candidate frame of the batch decoder. Bit positions are
    absolute in the chunk buffer; `parts` collects residual partitions."""

    __slots__ = ("stream", "start", "bs", "blocking", "num", "sub", "pos",
                 "plen", "po", "parts", "body", "end")

    def __init__(self, stream, start, bs, blocking, num, sub, pos, plen, po):
        self.stream = stream
        self.start = start  # byte offset of the sync code
        self.bs = bs
        self.blocking = blocking
        self.num = num
        self.sub = sub
        self.pos = pos  # next unread bit
        self.plen = plen  # bits of a partition's rice parameter
        self.po = po  # partition order
        self.parts: list = []
        self.body = None
        self.end = -1  # byte offset after the CRC-16; -1 = rejected


class _RawBitReader:
    """_BitReader's scalar interface at absolute bit positions of a
    chunk buffer, for one candidate frame: bits up to `limit` (its
    stream's end) are readable, and nothing is unpacked ahead."""

    def __init__(self, raw: bytes, pos: int, limit: int) -> None:
        self.raw = raw
        self.pos = pos
        self.limit = limit

    def read(self, k: int) -> int:
        if k == 0:
            return 0
        if self.pos + k > self.limit:
            raise FlacError("truncated stream")
        b0 = self.pos >> 3
        b1 = (self.pos + k + 7) >> 3
        v = int.from_bytes(self.raw[b0:b1], "big")
        self.pos += k
        return (v >> (b1 * 8 - self.pos)) & ((1 << k) - 1)

    def read_unary(self) -> int:
        q = 0
        while not self.read(1):
            q += 1
        return q

    def read_signed_array(self, count: int, width: int) -> np.ndarray:
        pos, end = self.pos, self.pos + count * width
        if end > self.limit:
            raise FlacError("truncated sample block")
        self.pos = end
        b0 = pos >> 3
        bits = np.unpackbits(np.frombuffer(self.raw[b0 : (end + 7) >> 3], np.uint8))
        return _signed_values(bits[pos - b0 * 8 : end - b0 * 8], count, width)


def _windows(raw: bytes) -> np.ndarray:
    """W[j] = the 64 bits starting at byte 4*j, big-endian: the bits
    from any position p are W[p >> 5] << (p & 31), at least 33 valid."""
    w32 = np.frombuffer(raw + b"\x00" * ((-len(raw)) % 4 + 4), ">u4")
    W = w32.astype(np.uint64)
    W <<= np.uint64(32)
    W[:-1] |= w32[1:]
    return W


def _rice_walk(W: np.ndarray, starts: np.ndarray, ks: np.ndarray,
               cnts: np.ndarray) -> tuple[list, list]:
    """Decode cnts[i] rice(ks[i]) codes at bit starts[i] for every lane
    i in lockstep -> (end bit of each lane, residuals of each lane).
    Lanes are sorted by code count, so the lanes still walking at any
    step are a prefix. Positions are kept per step; every _WALK_BLOCK
    steps one bulk pass turns them into quotients and low bits, which
    bounds the working set."""
    n_lanes = len(starts)
    order = np.argsort(-cnts, kind="stable")
    cs = cnts[order]
    k = ks[order].astype(np.uint64)
    p = starts[order].astype(np.uint64)
    maxc = int(cs[0])
    # n_active[i] = number of lanes with more than i codes
    n_active = np.searchsorted(-cs, -np.arange(1, maxc + 2), side="right")
    off = np.zeros(n_lanes + 1, np.int64)
    np.cumsum(cs, out=off[1:])
    # lane l: flat[off[l]:off[l+1]]; a code has a unary part below 16,
    # so with k <= 26 every residual fits int32
    flat = np.empty(int(off[-1]), np.int32 if int(ks.max()) <= 26 else np.int64)
    ends = np.empty(n_lanes, np.uint64)
    global _UNARY1
    if _UNARY1 is None:
        # unary length + 1 from the top 16 bits of a bit window; an
        # all-zero top (a unary run of 16 or more, rare under a fitted
        # rice parameter) pushes the lane past every stream end, so its
        # frame is rejected and its stream goes to the serial decoder
        top = np.arange(1 << 16)
        top[0] = 1
        _UNARY1 = (16 - np.floor(np.log2(top))).astype(np.uint64)
        _UNARY1[0] = 1 << 40
    s5, m31, s48, u64 = np.uint64(5), np.uint64(31), np.uint64(48), np.uint64(64)
    take_w, take_u = W.take, _UNARY1.take
    for b0 in range(0, maxc, _WALK_BLOCK):
        b1 = min(b0 + _WALK_BLOCK, maxc)
        n0 = int(n_active[b0])
        P = np.zeros((b1 - b0 + 1, n0), np.uint64)
        P[0] = p[:n0]
        kb = k[:n0]
        for i, n in enumerate(n_active[b0:b1].tolist()):
            row = P[i, :n]
            nxt = P[i + 1, :n]
            w = take_w((row >> s5).view(np.int64), mode="clip")
            w <<= row & m31
            w >>= s48
            np.add(row, take_u(w.view(np.int64)), out=nxt)
            nxt += kb[:n]
        # code i spans [P[i], P[i+1]): unary zeros, the terminator, then
        # k low bits ending at P[i+1]
        lo = P[1:] - kb
        q = lo - P[:-1] - np.uint64(1)
        w = np.take(W, (lo >> s5).view(np.int64), mode="clip") << (lo & m31)
        u = ((q << kb) | (w >> (u64 - kb))).view(np.int64)
        res = (u >> 1) ^ -(u & 1)
        n1 = int(n_active[b1])  # lanes that walk on past this block
        if n1:
            flat[off[:n1, None] + np.arange(b0, b1)] = res[:, :n1].T
        for lane in range(n1, n0):
            c = int(cs[lane])
            flat[off[lane] + b0 : off[lane] + c] = res[: c - b0, lane]
            ends[lane] = P[c - b0, lane]
        p[:n1] = P[-1, :n1]
    inv = np.empty(n_lanes, np.int64)
    inv[order] = np.arange(n_lanes)
    offs = off.tolist()
    return (
        ends[inv].tolist(),
        [flat[offs[j] : offs[j + 1]] for j in inv.tolist()],
    )


def _parse_candidate(raw: bytes, c: int, limit: int, si: dict, stream: int):
    """Header, subframe header and residual header of the candidate
    frame at byte c (the stream's audio ends at bit limit) -> _Frame,
    or None when the serial decoder would reject a frame here."""
    r = _RawBitReader(raw, c * 8, limit)
    try:
        bs, bps, blocking, num = _read_frame_header(r, si, c)
        if bs > si["max_bs"]:
            # the longest lane sets the walk's step count, so a false
            # candidate may not outgrow the stream's declared frames
            return None
        sub = _read_subframe_header(r, bs, bps)
        plen = po = 0
        if sub.kind >= 8:
            plen, po = _read_residual_header(r, bs, sub.order)
    except FlacError:
        return None
    return _Frame(stream, c, bs, blocking, num, sub, r.pos, plen, po)


def _decode_bodies(raw: bytes, W: np.ndarray, frames: list, limits: list) -> None:
    """Read the body of every candidate frame: VERBATIM samples directly,
    residual partitions round by round (round j reads partition j of
    every frame still going, and walks all its rice partitions in
    lockstep). Sets f.end, or leaves it -1 when the frame cannot be
    read within its stream. `limits` holds each stream's end bit."""
    pending = []
    for f in frames:
        if f.sub.kind == 1:
            r = _RawBitReader(raw, f.pos, limits[f.stream])
            try:
                f.body = r.read_signed_array(f.bs, f.sub.eff)
            except FlacError:
                f.pos = -1
                continue
            f.pos = r.pos
        elif f.sub.kind >= 8:
            pending.append(f)
    j = 0
    while pending:
        walk, going = [], []
        for f in pending:
            r = _RawBitReader(raw, f.pos, limits[f.stream])
            try:
                cnt = _partition_len(f.bs, f.po, f.sub.order, j)
                k, vals = _read_partition_param(r, f.plen, cnt)
            except FlacError:
                f.pos = -1
                continue
            f.pos = r.pos
            if vals is None:
                if cnt * (k + 1) > r.limit - f.pos:  # each code takes k+1 bits
                    f.pos = -1
                    continue
                if cnt:
                    walk.append((f, k, cnt))
                    continue
                vals = np.zeros(0, np.int64)
            f.parts.append(vals)
            going.append(f)
        if walk:
            ends, parts = _rice_walk(
                W,
                np.array([w[0].pos for w in walk], np.int64),
                np.array([w[1] for w in walk], np.int64),
                np.array([w[2] for w in walk], np.int64),
            )
            for (f, _, _), e, part in zip(walk, ends, parts):
                if e > limits[f.stream]:
                    f.pos = -1
                    continue
                f.parts.append(part)
                f.pos = e
                going.append(f)
        j += 1
        pending = []
        for f in going:
            if j < (1 << f.po):
                pending.append(f)
            else:
                f.body = f.parts[0] if len(f.parts) == 1 else np.concatenate(f.parts)
    for f in frames:
        if f.pos < 0 or (f.sub.kind >= 8 and f.body is None):
            continue
        r = _RawBitReader(raw, f.pos, limits[f.stream])
        try:
            if r.read((-f.pos) % 8):
                continue
        except FlacError:
            continue
        end = r.pos // 8 + 2
        if end * 8 <= r.limit:
            f.end = end


def _decode_chunk(payloads: list[bytes]) -> list:
    out: list = [None] * len(payloads)
    infos, parts, offs = [], [], []
    off = 0
    for i, p in enumerate(payloads):
        try:
            si, pos = _read_metadata(p)
        except FlacError:
            continue
        infos.append((i, si))
        parts.append(memoryview(p)[pos:])
        offs.append(off)
        off += len(p) - pos
    if not infos:
        return out
    raw = b"".join(parts)
    del parts
    buf = np.frombuffer(raw, np.uint8)
    limits = [s * 8 for s in offs[1:] + [off]]  # stream end bits
    # byte-aligned sync candidates: 0xFF then 0xF8/0xF9
    cand = np.flatnonzero(buf[:-1] == 0xFF)
    cand = cand[(buf[cand + 1] & 0xFE) == 0xF8]
    owner = np.searchsorted(np.asarray(offs), cand, side="right") - 1
    frames = []
    for c, s in zip(cand.tolist(), owner.tolist()):
        f = _parse_candidate(raw, c, limits[s], infos[s][1], s)
        if f is not None:
            frames.append(f)
    _decode_bodies(raw, _windows(raw), frames, limits)
    at = {f.start: f for f in frames if f.end >= 0}
    chains = []
    for s, (_, si) in enumerate(infos):
        chain, cur, decoded = [], offs[s], 0
        while decoded < si["total"]:
            f = at.get(cur)
            if (
                f is None
                or f.stream != s
                or (f.blocking == 0 and f.num != len(chain))
                or (f.blocking == 1 and f.num != decoded)
                or decoded + f.bs > si["total"]
            ):
                chain = None
                break
            chain.append(f)
            decoded += f.bs
            cur = f.end
        chains.append(chain)
    framed = [f for ch in chains if ch for f in ch]
    if framed:
        ends = np.array([f.end for f in framed], np.int64)
        got = _crc16_many(buf, np.array([f.start for f in framed], np.int64), ends - 2)
        want = (buf[ends - 2].astype(np.uint16) << 8) | buf[ends - 1]
        for f, ok in zip(framed, (got == want).tolist()):
            if not ok:
                f.end = -1
    for s, chain in enumerate(chains):
        if chain is None or any(f.end < 0 for f in chain):
            continue
        i, si = infos[s]
        try:
            out[i] = _finish(
                [_subframe_samples(f.sub, f.bs, f.body) for f in chain], si
            )
        except FlacError:
            pass
    return out


def decode_flac_batch(payloads: list[bytes]) -> list:
    """decode_flac over many payloads at once -> per payload the same
    (pcm, sr) decode_flac returns, or None where the batch path did not
    accept the stream (the caller decodes those with decode_flac, which
    also supplies the error text). Payloads are decoded in chunks of
    about _CHUNK_BYTES so the batch-wide arrays stay bounded."""
    out: list = []
    chunk: list[bytes] = []
    size = 0
    for p in payloads:
        if chunk and size + len(p) > _CHUNK_BYTES:
            out += _decode_chunk(chunk)
            chunk, size = [], 0
        chunk.append(p)
        size += len(p)
    if chunk:
        out += _decode_chunk(chunk)
    return out
