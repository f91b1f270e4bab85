"""Batch FLAC decode (flac.decode_flac_batch behind codecs.decode_batch):
its outcomes must equal per-payload codecs.decode exactly — the same
PCM bytes, sample rate and CodecError text — on clean, LPC, escaped,
multi-partition and false-sync streams and on damaged payloads, and a
FLAC decoder override must always win over the built-in batch path."""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_validator_spark.audio import checks, codecs, flac, quality, synth
from data_validator_spark.audio.flac import (
    _BitWriter,
    _rice_bit_array,
    _signed_bit_array,
    _utf8_encode,
    _zigzag,
    crc8,
    crc16,
)

RATES = (8000, 16000, 22050, 44100, 48000)


def _outcome(res):
    if isinstance(res, codecs.CodecError):
        return (type(res).__name__, str(res))
    pcm, sr = res
    return ("ok", pcm.dtype.str, pcm.tobytes(), sr)


def _per_row(codec, payload):
    try:
        return codecs.decode(codec, payload)
    except codecs.CodecError as e:
        return e


def _assert_batch_equals_rows(codec_col, payloads):
    # decode_batch turns a crash of the batch decoder into per-row
    # fallback, which would hide it here: call it directly as well
    flac_rows = [bytes(p) for c, p in zip(codec_col, payloads)
                 if c == "flac" and p is not None]
    for p, g in zip(flac_rows, flac.decode_flac_batch(flac_rows)):
        if g is not None:
            pcm, sr = flac.decode_flac(p)
            assert g[1] == sr and g[0].tobytes() == pcm.tobytes()
    got = list(codecs.decode_batch(codec_col, payloads))
    assert len(got) == len(payloads)
    for c, p, g in zip(codec_col, payloads, got):
        assert _outcome(g) == _outcome(_per_row(c, p))


def _fixture_stream(i: int, sr: int, n: int, lpc_order=None) -> bytes:
    pcm = synth.reference_pcm(f"clip-{i:06d}", sr, n)
    return flac.encode_flac(pcm, sr, lpc_order=lpc_order)


# ------------------------------------------------------ hand-built frames


def _streaminfo(sr, total, bps=16):
    si = struct.pack(">HH", 4096, 4096) + b"\x00\x00\x00" * 2
    packed = (sr << 44) | ((bps - 1) << 36) | total
    si += packed.to_bytes(8, "big") + b"\x00" * 16  # md5 unset
    return bytes([0x80]) + struct.pack(">I", len(si))[1:] + si


def _frame_header(idx, bs):
    hdr = bytearray(b"\xff\xf8")
    hdr.append(0b0111 << 4)  # 16-bit blocksize follows, sr from STREAMINFO
    hdr.append(0b100 << 1)  # mono, 16 bps
    hdr += _utf8_encode(idx) + struct.pack(">H", bs - 1)
    hdr.append(crc8(hdr))
    return bytes(hdr)


def _close(bw):
    frame = bw.tobytes()
    return frame + struct.pack(">H", crc16(frame))


def _escaped_frame(idx, raw: bytes) -> bytes:
    """FIXED order 0 frame whose single partition is escaped at width 16,
    with one wasted bit so the raw values start byte-aligned: the frame
    carries `raw` (even length) verbatim inside its residual bytes."""
    vals = np.frombuffer(raw, ">i2").astype(np.int64)
    bw = _BitWriter()
    bw.write_bytes(_frame_header(idx, len(vals)))
    bw.write(0, 1)
    bw.write(0b001000, 6)  # FIXED, order 0
    bw.write(1, 1)  # wasted bits follow
    bw.write(1, 1)  # unary 0 -> 1 wasted bit
    bw.write(0b00, 2)
    bw.write(0, 4)  # partition order 0
    bw.write(0b1111, 4)  # escape
    bw.write(16, 5)
    bw.write_bits(_signed_bit_array(vals, 16))
    return _close(bw)


def _rice_frame(idx, x, order=1, method=1, po=2, ks=(4, 7, 5, 11)):
    """FIXED frame with 2**po rice partitions, one parameter each."""
    res = np.diff(x, n=order)
    bw = _BitWriter()
    bw.write_bytes(_frame_header(idx, len(x)))
    bw.write(0, 1)
    bw.write(0b001000 | order, 6)
    bw.write(0, 1)
    for w in x[:order]:
        bw.write(int(w) & 0xFFFF, 16)
    bw.write(method, 2)
    bw.write(po, 4)
    size = len(x) >> po
    off = 0
    for j, k in enumerate(ks):
        cnt = size - (order if j == 0 else 0)
        bw.write(k, 4 + method)
        bw.write_bits(_rice_bit_array(_zigzag(res[off : off + cnt]), k))
        off += cnt
    return _close(bw)


def _stream(sr, frames, total):
    return flac.MAGIC + _streaminfo(sr, total) + b"".join(frames)


def _false_sync_stream(seed: int) -> bytes:
    """Two frames; the first hides three sync codes in its residual: a
    frame header whose CRC-8 passes, a complete valid frame, and a sync
    code followed by a header that fails CRC-8."""
    rng = np.random.default_rng(seed)
    tail = rng.integers(-3000, 3000, size=64).astype(np.int64)
    inner = _rice_frame(1, tail, ks=(11, 11, 11, 11))
    hidden = _frame_header(1, 64) + inner + b"\xff\xf8\x7c\x08\x00\x00"
    hidden += bytes(rng.integers(0, 256, size=40, dtype=np.uint8))
    if len(hidden) % 2:
        hidden += b"\x00"
    n0 = len(hidden) // 2
    return _stream(16000, [_escaped_frame(0, hidden), inner], n0 + 64)


# ------------------------------------------------------------- tests


def test_batch_accepts_clean_streams_bit_exact():
    """Every clean stream is decoded by the batch path itself (no
    fallback) and equals decode_flac: all five fixture rates, streams
    shorter than one block, LPC orders 1..32, multi-partition rice and
    false sync codes inside escaped residuals."""
    payloads = []
    for i, sr in enumerate(RATES):
        for n in (1, 37, 4096, int(0.6 * sr)):
            payloads.append(_fixture_stream(i, sr, n))
    for order in range(1, 33):
        payloads.append(_fixture_stream(order, RATES[order % 5], 5000, order))
    x = np.cumsum(np.random.default_rng(3).integers(-40, 40, size=128))
    payloads.append(_stream(8000, [_rice_frame(0, x.astype(np.int64))], 128))
    hidden = [_false_sync_stream(s) for s in range(4)]
    body = hidden[0][42:]
    syncs = [i for i in range(len(body) - 1)
             if body[i] == 0xFF and body[i + 1] & 0xFE == 0xF8]
    assert len(syncs) >= 4  # two real frames + hidden candidates
    payloads += hidden
    got = flac.decode_flac_batch(payloads)
    for p, g in zip(payloads, got):
        assert g is not None
        pcm, sr = flac.decode_flac(p)
        assert g[1] == sr and g[0].tobytes() == pcm.tobytes()


def _padded_frame(idx, x, pad_bits):
    """FIXED order 1 frame (one rice partition, k=8) whose byte padding
    is `pad_bits` instead of zeros; CRC-16 is computed over it."""
    bw = _BitWriter()
    bw.write_bytes(_frame_header(idx, len(x)))
    bw.write(0, 1)
    bw.write(0b001001, 6)
    bw.write(0, 1)
    bw.write(int(x[0]) & 0xFFFF, 16)
    bw.write(0b00, 2)
    bw.write(0, 4)
    bw.write(8, 4)
    bw.write_bits(_rice_bit_array(_zigzag(np.diff(x)), 8))
    pad = (-bw.nbits) % 8
    assert pad, "frame happens to end byte-aligned"
    bw.write(pad_bits & ((1 << pad) - 1), pad)
    return _close(bw)


def _sample_numbered(frames_x):
    """Variable-blocksize stream: headers carry sample numbers."""
    out, at = [], 0
    for x in frames_x:
        f = bytearray(_rice_frame(0, x))
        body = bytearray(b"\xff\xf9" + f[2:4] + _utf8_encode(at)
                         + struct.pack(">H", len(x) - 1))
        body.append(crc8(body))
        bw = _BitWriter()
        bw.write_bytes(bytes(body))
        bw.write_bytes(bytes(f[8:-2]))  # subframe of the frame-0 copy
        out.append(_close(bw))
        at += len(x)
    return out


def test_frame_level_defects_with_valid_crcs():
    """Frames whose CRCs are right but whose place in the stream is
    wrong: the batch path must give the serial outcome for each."""
    rng = np.random.default_rng(9)
    x = [np.cumsum(rng.integers(-40, 40, size=128)).astype(np.int64)
         for _ in range(3)]
    seq_ok = _stream(8000, [_rice_frame(i, x[i]) for i in range(3)], 384)
    streams = {
        "ok": seq_ok,
        "trailing_bytes": seq_ok + b"\xff\xf8\x00junk",
        "frame_number_gap": _stream(
            8000, [_rice_frame(0, x[0]), _rice_frame(2, x[1])], 256),
        "frames_exceed_total": _stream(8000, [_rice_frame(0, x[0])], 100),
        "short_total": _stream(
            8000, [_rice_frame(0, x[0]), _rice_frame(1, x[1])], 129),
        "zero_padding": _stream(8000, [_padded_frame(0, x[0][:101], 0)], 101),
        "nonzero_padding": _stream(
            8000, [_padded_frame(0, x[0][:101], 0x55)], 101),
        "sample_numbers": _stream(8000, _sample_numbered(x), 384),
        "sample_number_gap": _stream(
            8000, _sample_numbered(x)[:1] + _sample_numbered(x)[2:], 256),
    }
    names = sorted(streams)
    _assert_batch_equals_rows(["flac"] * len(names), [streams[n] for n in names])
    got = dict(zip(names, flac.decode_flac_batch([streams[n] for n in names])))
    for name in ("ok", "trailing_bytes", "zero_padding", "sample_numbers"):
        assert got[name] is not None, name

def _mutate(p: bytes, kind: str, rng, other: bytes) -> bytes:
    b = bytearray(p)
    if kind == "truncate":
        return bytes(b[: int(rng.integers(0, len(b)))])
    if kind == "flip":
        for _ in range(int(rng.integers(1, 4))):
            j = int(rng.integers(0, len(b)))
            b[j] ^= 1 << int(rng.integers(0, 8))
    elif kind == "sync" and len(b) > 44:
        # a sync code planted inside the frame data: a false candidate
        # whose CRC-8 usually fails, and a CRC-16 break for its frame
        j = int(rng.integers(42, len(b) - 1))
        b[j : j + 2] = b"\xff\xf8"
    elif kind == "splice" and len(b) > 43:
        j = int(rng.integers(42, len(b)))
        return bytes(b[:j]) + other[j:]
    return bytes(b)


_SPEC = st.tuples(
    st.sampled_from(RATES),
    st.one_of(st.integers(1, 300), st.integers(3000, 12000)),
    st.one_of(st.none(), st.integers(1, 32)),
    st.sampled_from(["none", "truncate", "flip", "sync", "splice"]),
)


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(specs=st.lists(_SPEC, min_size=1, max_size=6),
       seed=st.integers(0, 2**32 - 1))
def test_decode_batch_equals_per_payload(specs, seed):
    rng = np.random.default_rng(seed)
    clean = [
        _fixture_stream(i, sr, n, lpc) for i, (sr, n, lpc, _) in enumerate(specs)
    ]
    payloads = [
        _mutate(p, kind, rng, clean[int(rng.integers(0, len(clean)))])
        for p, (_, _, _, kind) in zip(clean, specs)
    ]
    # hand-built streams carry no MD5: only the frame checks guard them
    hand = _false_sync_stream(seed % 7)
    payloads += [hand, _mutate(hand, specs[0][3], rng, clean[0])]
    codec_col = ["flac"] * len(payloads)
    # rows of other kinds ride in the same batch
    pcm = synth.reference_pcm("other", 8000, 400)
    payloads += [codecs.encode("pcm16", pcm, 8000), None, b"junk",
                 codecs.encode("opus", pcm, 8000)]
    codec_col += ["pcm16", "flac", "amr", "opus"]
    order = rng.permutation(len(payloads))
    _assert_batch_equals_rows(
        [codec_col[i] for i in order], [payloads[i] for i in order]
    )


def test_decode_batch_skip_rows_yield_none():
    p = _fixture_stream(1, 16000, 2000)
    got = list(codecs.decode_batch(["flac", "flac"], [p, p],
                                   skip=np.array([True, False])))
    assert got[0] is None and got[1][1] == 16000


def _batch_frame(payload):
    return pd.DataFrame({
        "clip_id": ["a", "b", "c"],
        "codec": ["flac", "flac", "pcm16"],
        "sr_hz": [16000, 16000, 16000],
        "bytes": [payload, payload,
                  codecs.encode("pcm16", np.zeros(8, np.float32), 16000)],
        "skip": [False, False, False],
    })


_BODIES = {
    "check": checks._check_batch,
    "quality": quality._quality_batch,
}


@pytest.mark.parametrize("body", sorted(_BODIES))
def test_flac_override_wins_over_batch_path(body, monkeypatch):
    """A per-call plug-in and a registered decoder both replace the
    built-in batch FLAC path in the UDF bodies."""
    run = _BODIES[body]
    pdf = _batch_frame(_fixture_stream(2, 16000, 3000))
    calls, batch_calls = [], []

    def fake(payload):
        calls.append(len(payload))
        return np.zeros(7, np.float32), 16000

    def no_batch(payloads):
        # records rather than raises: decode_batch would swallow an
        # error and fall back to the override row by row
        batch_calls.append(len(payloads))
        return [None] * len(payloads)

    monkeypatch.setattr(flac, "decode_flac_batch", no_batch)
    out = run(pdf, {"flac": fake})
    assert len(calls) == 2 and list(out["n_samples"][:2]) == [7, 7]
    calls.clear()
    monkeypatch.setitem(codecs._DECODERS, "flac", fake)
    out = run(pdf, None)
    assert len(calls) == 2 and list(out["n_samples"][:2]) == [7, 7]
    assert batch_calls == []


@pytest.mark.parametrize("body", sorted(_BODIES))
def test_udf_bodies_decode_flac_once_per_batch(body, monkeypatch):
    """Without an override, one batch call decodes every FLAC row."""
    run = _BODIES[body]
    pdf = _batch_frame(_fixture_stream(3, 16000, 3000))
    calls = []
    real = flac.decode_flac_batch

    def spy(payloads):
        calls.append(len(payloads))
        return real(payloads)

    monkeypatch.setattr(flac, "decode_flac_batch", spy)
    out = run(pdf, None)
    assert calls == [2]
    assert list(out["n_samples"]) == [3000, 3000, 8]
