"""Real-FLAC subset codec (audio/flac.py): lossless roundtrips, CRC /
MD5 verification, and decode coverage for frame shapes the encoder
never produces (rice2 method, escaped + multi-order partitions,
wasted bits, fixed orders 3-4) built bit-by-bit with the module's own
writer primitives."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from data_validator_spark.audio import flac
from data_validator_spark.audio.flac import (
    _BitWriter,
    _rice_bit_array,
    _signed_bit_array,
    _utf8_encode,
    _zigzag,
    crc8,
    crc16,
    decode_flac,
    encode_flac,
    FlacError,
)


def _i16(pcm):
    return (np.clip(np.asarray(pcm, np.float64), -1, 1) * 32767.0).round().astype(
        np.int64
    )


@pytest.mark.parametrize("sr", [8000, 16000, 44100, 48000, 12345])
def test_roundtrip_lossless(sr):
    rng = np.random.default_rng(sr)
    n = 9999
    t = np.arange(n) / sr
    pcm = np.clip(
        0.5 * np.sin(2 * np.pi * 440 * t) + 0.05 * rng.standard_normal(n), -1, 1
    ).astype(np.float32)
    dec, sr2 = decode_flac(encode_flac(pcm, sr))
    assert sr2 == sr
    assert np.array_equal(_i16(pcm), _i16(dec))


def test_roundtrip_edge_shapes():
    for pcm in (
        np.zeros(1, np.float32),                  # single sample
        np.zeros(5000, np.float32),               # silence -> CONSTANT
        np.full(4096, -0.5, np.float32),          # exactly one block
        np.linspace(-1, 1, 4097).astype(np.float32),  # block + 1 tail sample
    ):
        dec, _ = decode_flac(encode_flac(pcm, 16000))
        assert np.array_equal(_i16(pcm), _i16(dec))


def test_crc_and_md5_detect_corruption():
    pcm = np.sin(np.linspace(0, 60, 6000)).astype(np.float32) * 0.7
    enc = bytearray(encode_flac(pcm, 16000))
    # flip one bit inside frame data (after the 42-byte header+streaminfo)
    bad = bytearray(enc)
    bad[60] ^= 0x10
    with pytest.raises(FlacError):
        decode_flac(bytes(bad))
    # corrupt the STREAMINFO md5 -> decoded-audio MD5 mismatch
    # (md5 field = bytes 26..41: 4 magic + 4 block header + 18 into body)
    bad2 = bytearray(enc)
    bad2[30] ^= 0xFF
    with pytest.raises(FlacError, match="MD5"):
        decode_flac(bytes(bad2))
    # truncation
    with pytest.raises(FlacError):
        decode_flac(bytes(enc[: len(enc) // 2]))
    with pytest.raises(FlacError):
        decode_flac(b"fLaC\x00\x00")
    with pytest.raises(FlacError):
        decode_flac(b"not a flac stream at all......................")


# ------------------------------------------------------------------
# externally-shaped frames: hand-built streams exercising decoder
# paths our encoder never emits
# ------------------------------------------------------------------


def _streaminfo(sr, total, bps=16):
    si = bytearray()
    si += struct.pack(">HH", 4096, 4096)
    si += b"\x00\x00\x00" * 2
    packed = (sr << 44) | (0 << 41) | ((bps - 1) << 36) | total
    si += packed.to_bytes(8, "big")
    si += b"\x00" * 16  # md5 unset -> decoder skips md5 check
    return bytes([0x80]) + struct.pack(">I", len(si))[1:] + bytes(si)


def _frame_header(idx, bs, sr_code=0, extra=b""):
    hdr = bytearray(b"\xff\xf8")
    hdr.append((0b0111 << 4) | sr_code)  # explicit 16-bit blocksize
    hdr.append((0b0000 << 4) | (0b100 << 1))  # mono, 16 bps
    hdr += _utf8_encode(idx)
    hdr += struct.pack(">H", bs - 1)
    hdr += extra
    hdr.append(crc8(hdr))
    return bytes(hdr)


def _finish_frame(bw):
    frame = bw.tobytes()
    return frame + struct.pack(">H", crc16(frame))


def _stream(sr, frames, total):
    return flac.MAGIC + _streaminfo(sr, total) + b"".join(frames)


def test_decode_verbatim_subframe():
    rng = np.random.default_rng(7)
    x = rng.integers(-30000, 30000, size=100).astype(np.int64)
    bw = _BitWriter()
    bw.write_bytes(_frame_header(0, 100))
    bw.write(0, 1)
    bw.write(0b000001, 6)  # VERBATIM
    bw.write(0, 1)
    bw.write_bits(_signed_bit_array(x, 16))
    dec, sr = decode_flac(_stream(16000, [_finish_frame(bw)], 100))
    assert sr == 16000
    assert np.array_equal(_i16(dec), x)


def test_decode_rice2_method_and_partitions():
    """5-bit rice parameters (method 1) + partition order 2 with a
    different k per partition — decoder must track partition sizes
    (first partition short by the predictor order)."""
    n, order = 128, 1
    rng = np.random.default_rng(3)
    x = np.cumsum(rng.integers(-40, 40, size=n)).astype(np.int64)
    res = np.diff(x, n=order)
    bw = _BitWriter()
    bw.write_bytes(_frame_header(0, n))
    bw.write(0, 1)
    bw.write(0b001000 | order, 6)  # FIXED order 1
    bw.write(0, 1)
    bw.write(int(x[0]) & 0xFFFF, 16)  # warmup
    bw.write(0b01, 2)  # method 1: 5-bit params
    bw.write(2, 4)  # partition order 2 -> 4 partitions of n/4
    sizes = [n // 4 - order, n // 4, n // 4, n // 4]
    ks = [4, 7, 0, 11]
    off = 0
    for cnt, k in zip(sizes, ks):
        bw.write(k, 5)
        bw.write_bits(_rice_bit_array(_zigzag(res[off : off + cnt]), k))
        off += cnt
    dec, _ = decode_flac(_stream(8000, [_finish_frame(bw)], n))
    assert np.array_equal(_i16(dec), x)


def test_decode_escaped_partition_and_high_fixed_order():
    """Escape-coded (raw-width) residual partitions + FIXED order 4."""
    n, order = 64, 4
    rng = np.random.default_rng(11)
    x = rng.integers(-2000, 2000, size=n).astype(np.int64)
    res = np.diff(x, n=order)
    width = int(np.abs(res).max()).bit_length() + 1
    bw = _BitWriter()
    bw.write_bytes(_frame_header(0, n))
    bw.write(0, 1)
    bw.write(0b001000 | order, 6)
    bw.write(0, 1)
    for w in x[:order]:
        bw.write(int(w) & 0xFFFF, 16)
    bw.write(0b00, 2)
    bw.write(0, 4)  # one partition
    bw.write(0b1111, 4)  # ESCAPE
    bw.write(width, 5)
    bw.write_bits(_signed_bit_array(res, width))
    dec, _ = decode_flac(_stream(8000, [_finish_frame(bw)], n))
    assert np.array_equal(_i16(dec), x)


def test_decode_wasted_bits():
    """Samples that are all multiples of 8 stored with 3 wasted bits:
    the subframe carries 13-bit values shifted left on output."""
    n = 32
    x = (np.arange(n, dtype=np.int64) * 8) - 128
    bw = _BitWriter()
    bw.write_bytes(_frame_header(0, n))
    bw.write(0, 1)
    bw.write(0b000001, 6)  # VERBATIM
    bw.write(1, 1)  # wasted-bits flag
    bw.write(0b001, 3)  # unary 2 -> wasted = 3
    bw.write_bits(_signed_bit_array(x >> 3, 13))
    dec, _ = decode_flac(_stream(8000, [_finish_frame(bw)], n))
    assert np.array_equal(_i16(dec), x)


def test_decode_constant_subframe_stream():
    n = 50
    bw = _BitWriter()
    bw.write_bytes(_frame_header(0, n))
    bw.write(0, 1)
    bw.write(0b000000, 6)
    bw.write(0, 1)
    bw.write(1234, 16)
    dec, _ = decode_flac(_stream(8000, [_finish_frame(bw)], n))
    assert np.array_equal(_i16(dec), np.full(n, 1234))


def _lpc_frame(x, coefs, shift, prec, idx=0):
    """Hand-build an LPC subframe: warmup, then residuals computed
    with the RFC 9639 §9.2.2 prediction so decode must reproduce x
    exactly."""
    order = len(coefs)
    res = []
    for i in range(order, len(x)):
        acc = sum(coefs[j] * int(x[i - 1 - j]) for j in range(order))
        res.append(int(x[i]) - (acc >> shift))
    bw = _BitWriter()
    bw.write_bytes(_frame_header(idx, len(x)))
    bw.write(0, 1)
    bw.write(32 + order - 1, 6)  # LPC subframe type
    bw.write(0, 1)  # no wasted bits
    bw.write_bits(_signed_bit_array(np.asarray(x[:order], np.int64), 16))
    bw.write(prec - 1, 4)
    bw.write(shift, 5)
    bw.write_bits(_signed_bit_array(np.asarray(coefs, np.int64), prec))
    flac._write_residual(bw, np.asarray(res, np.int64))
    return _finish_frame(bw)


def test_decode_lpc_subframe_exact():
    """Order-2 LPC with quantized near-sinusoid predictor coefficients
    (the shape libFLAC actually emits): decode must be bit-exact."""
    n = 200
    t = np.arange(n)
    x = (12000 * np.sin(2 * np.pi * 440 * t / 16000)).astype(np.int64)
    # 2*cos(w) ~ 1.9704 at q13: c0 = 16142, c1 = -8192 — the largest
    # magnitudes that fit FLAC's max 15-bit signed coef range
    frame = _lpc_frame(x, [16142, -8192], 13, 15)
    dec, sr = decode_flac(_stream(16000, [frame], n))
    assert sr == 16000
    assert np.array_equal(_i16(dec), x)


def test_decode_lpc_order1_and_high_order():
    rng = np.random.default_rng(11)
    x = np.cumsum(rng.integers(-50, 51, size=120)).astype(np.int64) + 1000
    f1 = _lpc_frame(x, [1 << 12], 12, 14)  # order 1, identity predictor
    dec, _ = decode_flac(_stream(8000, [f1], 120))
    assert np.array_equal(_i16(dec), x)
    coefs = [3000, -1500, 700, 200, -90, 40, -17, 8]  # order 8
    f8 = _lpc_frame(x, coefs, 12, 13)
    dec8, _ = decode_flac(_stream(8000, [f8], 120))
    assert np.array_equal(_i16(dec8), x)


def test_lpc_invalid_precision_and_shift_raise():
    n = 16
    x = np.zeros(n, np.int64)
    bw = _BitWriter()
    bw.write_bytes(_frame_header(0, n))
    bw.write(0, 1)
    bw.write(32, 6)  # LPC order 1
    bw.write(0, 1)
    bw.write(0, 16)  # warmup
    bw.write(15, 4)  # precision escape value -> invalid
    with pytest.raises(FlacError, match="precision"):
        decode_flac(_stream(8000, [_finish_frame(bw)], n))
    bw = _BitWriter()
    bw.write_bytes(_frame_header(0, n))
    bw.write(0, 1)
    bw.write(32, 6)
    bw.write(0, 1)
    bw.write(0, 16)
    bw.write(14, 4)  # precision 15
    bw.write(0b10000, 5)  # shift -16 (sign-extended) -> rejected
    with pytest.raises(FlacError, match="shift"):
        decode_flac(_stream(8000, [_finish_frame(bw)], n))


def test_multi_frame_sequence_enforced():
    pcm = np.sin(np.linspace(0, 100, 10000)).astype(np.float32) * 0.4
    enc = encode_flac(pcm, 22050, blocksize=2048)
    dec, sr = decode_flac(enc)
    assert sr == 22050
    assert np.array_equal(_i16(pcm), _i16(dec))


def test_codecs_dispatch_uses_real_flac():
    from data_validator_spark.audio import codecs

    pcm = np.sin(np.linspace(0, 20, 4000)).astype(np.float32) * 0.6
    payload = codecs.encode("flac", pcm, 16000)
    assert payload[:4] == b"fLaC"
    out, sr = codecs.decode("flac", payload)
    assert sr == 16000
    assert codecs.snr_db(pcm, out) > 80  # lossless up to 16-bit quantization
    with pytest.raises(codecs.CodecError):
        codecs.decode("flac", payload[:30])


def test_lpc_encoder_roundtrip_hits_batch_path():
    """encode_flac(lpc_order=) emits LPC subframes across many frames;
    decode must be bit-exact (STREAMINFO MD5 verifies internally) AND
    identical between the batched restoration and the per-subframe
    python kernel."""
    rng = np.random.default_rng(7)
    t = np.arange(120_000)  # ~30 frames at blocksize 4096
    pcm = np.clip(
        0.4 * np.sin(2 * np.pi * 220 * t / 16000)
        + 0.05 * rng.standard_normal(len(t)),
        -1, 1,
    ).astype(np.float32)
    for order in (2, 8, 16):
        enc = flac.encode_flac(pcm, 16000, lpc_order=order)
        dec, sr = flac.decode_flac(enc)  # MD5-verified => bit-exact
        assert sr == 16000
        assert np.array_equal(_i16(dec), _i16(pcm))
        # force the single-subframe path and compare
        orig = flac._LPC_BATCH_MIN
        flac._LPC_BATCH_MIN = 10**9
        try:
            dec_single, _ = flac.decode_flac(enc)
        finally:
            flac._LPC_BATCH_MIN = orig
        assert np.array_equal(dec, dec_single)


def test_lpc_batch_group_mixed_shapes():
    """Streams whose frames differ in blocksize/order split into
    same-shape batch groups plus singles; the result must equal the
    all-singles decode."""
    rng = np.random.default_rng(3)
    x = np.cumsum(rng.integers(-40, 41, size=4096 * 3 + 777)).astype(np.int64)
    x = np.clip(x, -30000, 30000)
    enc = flac.encode_flac(
        (x / 32767.0).astype(np.float32), 8000, lpc_order=4
    )
    dec, _ = flac.decode_flac(enc)
    orig = flac._LPC_BATCH_MIN
    flac._LPC_BATCH_MIN = 1  # batch even pairs/singletons
    try:
        dec_all_batch, _ = flac.decode_flac(enc)
    finally:
        flac._LPC_BATCH_MIN = orig
    assert np.array_equal(dec, dec_all_batch)


def test_lpc_explosive_stream_is_decode_error_not_crash():
    """An adversarial LPC frame whose recurrence explodes (huge coefs,
    shift 0) must surface as FlacError — the UDF's decode-failure
    outcome — never OverflowError."""
    order = 2
    res = np.zeros(4096 - order, np.int64)
    bw = _BitWriter()
    bw.write_bytes(_frame_header(0, 4096))
    bw.write(0, 1)
    bw.write(32 + order - 1, 6)  # LPC subframe
    bw.write(0, 1)
    bw.write_bits(_signed_bit_array(np.asarray([20000, 20000], np.int64), 16))
    bw.write(15 - 1, 4)
    bw.write(0, 5)  # shift 0: prediction amplifies ~2^14 per step
    bw.write_bits(_signed_bit_array(np.asarray([16000, 16000], np.int64), 15))
    flac._write_residual(bw, res)
    frame = _finish_frame(bw)
    with pytest.raises(FlacError, match="overflow"):
        flac.decode_flac(_stream(8000, [frame], 4096))


def test_lpc_kernel_bit_exact_vs_naive_all_orders():
    """The order-specialized codegen kernel (_make_lpc_kernel) must be
    bit-exact against the straightforward indexed recurrence for every
    legal LPC order (1..32), including the truncating-shift feedback."""
    import math

    def naive(warm, coefs, shift, res):
        order = len(coefs)
        cl = [int(c) for c in coefs]
        out = [int(v) for v in warm]
        for rv in res.tolist():
            acc = sum(cl[j] * out[-1 - j] for j in range(order))
            out.append(int(rv) + (acc >> shift))
        return np.asarray(out, dtype=np.int64)

    rng = np.random.default_rng(11)
    for order in range(1, 33):
        coefs = rng.integers(-60, 60, order)
        # contractive filter (sum|c| < 2^shift) so outputs stay bounded
        shift = max(1, int(math.ceil(math.log2(max(1, np.abs(coefs).sum())))) + 1)
        warm = rng.integers(-(1 << 15), 1 << 15, order)
        res = rng.integers(-80, 80, 400)
        got = flac._restore_lpc(warm, coefs, shift, res)
        assert np.array_equal(got, naive(warm, coefs, shift, res)), order


@pytest.mark.parametrize("order", [0, 33, -1])
def test_encode_rejects_lpc_order_outside_range(order):
    """lpc_order outside 1..32 does not fit the 6-bit subframe type:
    the encoder refuses it instead of writing a corrupt stream."""
    pcm = np.sin(np.linspace(0, 30, 5000)).astype(np.float32) * 0.5
    with pytest.raises(FlacError, match="lpc_order"):
        encode_flac(pcm, 16000, lpc_order=order)
