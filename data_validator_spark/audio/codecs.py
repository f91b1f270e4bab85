"""Audio codec encode/decode, pure numpy + stdlib (no audio libraries
are available in this environment — see repo README).

Real codecs:
  - ``pcm16``: standard RIFF/WAVE 16-bit PCM container (fully real).
  - ``mulaw``: G.711 mu-law companding (real algorithm, ITU-T G.711)
    in a minimal ``MULW`` container.
  - ``alaw``: G.711 A-law companding — the BIT-EXACT segment/chord
    form (13-bit linear -> sign + 3-bit segment + 4-bit quantized
    mantissa, 0x55 alternate-mark-inversion mask), the same integer
    algorithm every telephony stack interoperates on — in a minimal
    ``ALW0`` container. Fully vectorized (no per-sample loop).
  - ``flac``: REAL FLAC bitstream (audio/flac.py — pure-python subset
    codec: fixed/verbatim/constant subframes, rice residuals, CRC-8 +
    CRC-16 + MD5 verified; mono/16-bit encode, wider decode).

  - ``adpcm``: IMA/DVI ADPCM (real algorithm: 4-bit differential
    coding with the standard 89-entry step table and index
    adaptation, as specified in the IMA Digital Audio Compatibility
    Pack and RIFF WAVE format 0x0011) in a minimal ``ADP0``
    container. ~4:1 compression; inherently sequential (each sample's
    quantizer state depends on the previous), so the codec loops in
    Python per clip — fine at validation batch sizes, and the
    algorithm itself is the real thing.

Metadata-tier codec (PCM decode unsupported, container REAL):
  - ``opus``: REAL Ogg Opus encapsulation + RFC 6716 TOC metadata
    (audio/opus.py — page CRC verification, OpusHead/OpusTags,
    per-packet frame counts/durations, granule accounting). There is
    no pure-python path to CELT/SILK entropy decode, so the PCM/SNR
    tier raises ``PcmUnsupportedError`` — surfaced downstream as the
    honest ``audio_codec_unsupported_pcm(opus)`` outcome instead of
    the old synthetic 72 dB pass — while duration-consistency and
    container-sanity checks run for real against the bitstream.
    A production deployment calls ``register_pcm_decoder("opus",
    libopus_decode)`` and the SNR tier lights up with no other change.

All decoders raise ``CodecError`` on malformed payloads — the engine
maps that to the ``audio_decode_failed`` hard violation.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from data_validator_spark.audio import flac as _flac
from data_validator_spark.audio import opus as _opus

SUPPORTED_CODECS = ("pcm16", "flac", "mulaw", "alaw", "adpcm", "opus")

_WAV_FMT_PCM = 1
_MAGIC_MULAW = b"MULW"
_MAGIC_ALAW = b"ALW0"
_MAGIC_OPUS = b"OPU0"
_MAGIC_ADPCM = b"ADP0"


class CodecError(ValueError):
    """Raised when a payload cannot be decoded."""


class PcmUnsupportedError(CodecError):
    """The codec's container/metadata tier is supported but PCM decode
    is not available in this environment (e.g. opus without libopus).
    The decode UDF maps this to the normalized
    ``audio_codec_unsupported_pcm(<codec>)`` outcome — a warning, not
    a decode failure — and falls back to the metadata inspector."""


# ---------------------------------------------------------------- pcm16 / WAV


def _encode_wav_pcm16(pcm: np.ndarray, sr_hz: int) -> bytes:
    x = np.clip(pcm, -1.0, 1.0)
    i16 = (x * 32767.0).astype("<i2")
    data = i16.tobytes()
    byte_rate = sr_hz * 2
    hdr = b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH", 16, _WAV_FMT_PCM, 1, sr_hz, byte_rate, 2, 16
    )
    return hdr + fmt + b"data" + struct.pack("<I", len(data)) + data


def _decode_wav_pcm16(payload: bytes) -> tuple[np.ndarray, int]:
    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise CodecError("not a RIFF/WAVE payload")
    if payload[12:16] != b"fmt ":
        raise CodecError("missing fmt chunk")
    fmt_size, audio_fmt, n_ch, sr_hz, _, _, bits = struct.unpack(
        "<IHHIIHH", payload[16:36]
    )
    if audio_fmt != _WAV_FMT_PCM or n_ch != 1 or bits != 16 or fmt_size != 16:
        raise CodecError("unsupported WAV format")
    if payload[36:40] != b"data":
        raise CodecError("missing data chunk")
    (n_bytes,) = struct.unpack("<I", payload[40:44])
    data = payload[44 : 44 + n_bytes]
    if len(data) != n_bytes or n_bytes % 2:
        raise CodecError("truncated WAV data")
    pcm = np.frombuffer(data, dtype="<i2").astype(np.float32) / 32767.0
    return pcm, sr_hz


# ---------------------------------------------------------------- G.711 mu-law

_MU = 255.0


def _encode_mulaw(pcm: np.ndarray, sr_hz: int) -> bytes:
    x = np.clip(pcm, -1.0, 1.0)
    y = np.sign(x) * np.log1p(_MU * np.abs(x)) / np.log1p(_MU)
    u8 = np.round((y + 1.0) * 127.5).astype(np.uint8)
    return _MAGIC_MULAW + struct.pack("<IQ", sr_hz, len(u8)) + u8.tobytes()


def _decode_mulaw(payload: bytes) -> tuple[np.ndarray, int]:
    if len(payload) < 16 or payload[:4] != _MAGIC_MULAW:
        raise CodecError("not a MULW payload")
    sr_hz, n = struct.unpack("<IQ", payload[4:16])
    data = payload[16 : 16 + n]
    if len(data) != n:
        raise CodecError("truncated MULW data")
    y = np.frombuffer(data, dtype=np.uint8).astype(np.float32) / 127.5 - 1.0
    pcm = np.sign(y) * ((1.0 + _MU) ** np.abs(y) - 1.0) / _MU
    return pcm.astype(np.float32), sr_hz


# ---------------------------------------------------------------- G.711 A-law

# Segment upper bounds for the 13-bit magnitude (ITU-T G.711 table 1a;
# identical constants in every interoperating implementation).
_ALAW_SEG_END = np.array(
    [0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF], dtype=np.int32
)
_ALAW_AMI_MASK = 0x55  # alternate-mark-inversion: even bits inverted


def _linear_to_alaw(x16: np.ndarray) -> np.ndarray:
    """int16 samples -> G.711 A-law bytes (bit-exact segment/chord
    encoding). Vectorized transcription of the normative integer
    algorithm: 16-bit sample >> 3 to the 13-bit domain, magnitude
    split into a 3-bit segment (exponent) + 4-bit mantissa, sign in
    bit 7, whole byte XORed with 0x55."""
    pcm = x16.astype(np.int32) >> 3
    neg = pcm < 0
    mask = np.where(neg, _ALAW_AMI_MASK, 0x80 | _ALAW_AMI_MASK)
    mag = np.where(neg, -pcm - 1, pcm)  # 0..4095
    # segment = index of first upper bound >= magnitude
    seg = np.searchsorted(_ALAW_SEG_END, mag, side="left").astype(np.int32)
    shift = np.where(seg < 2, 1, seg)
    aval = (seg << 4) | ((mag >> shift) & 0x0F)
    return ((aval ^ mask) & 0xFF).astype(np.uint8)


def _alaw_to_linear(u8: np.ndarray) -> np.ndarray:
    """G.711 A-law bytes -> int16 samples (exact inverse of the
    segment table: reconstructed value sits at the quantization-cell
    midpoint, so a second encode of the decoded sample reproduces the
    byte — the 256-code involution property the tests assert)."""
    a = u8.astype(np.int32) ^ _ALAW_AMI_MASK
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    base = np.where(seg == 0, t + 8, t + 0x108)
    t = base << np.maximum(seg - 1, 0)
    return np.where(a & 0x80, t, -t).astype(np.int16)


def _encode_alaw(pcm: np.ndarray, sr_hz: int) -> bytes:
    x16 = np.round(np.clip(pcm, -1.0, 1.0) * 32767.0).astype(np.int16)
    u8 = _linear_to_alaw(x16)
    return _MAGIC_ALAW + struct.pack("<IQ", sr_hz, len(u8)) + u8.tobytes()


def _decode_alaw(payload: bytes) -> tuple[np.ndarray, int]:
    if len(payload) < 16 or payload[:4] != _MAGIC_ALAW:
        raise CodecError("not an ALW0 payload")
    sr_hz, n = struct.unpack("<IQ", payload[4:16])
    data = payload[16 : 16 + n]
    if len(data) != n:
        raise CodecError("truncated ALW0 data")
    x16 = _alaw_to_linear(np.frombuffer(data, dtype=np.uint8))
    return (x16.astype(np.float32) / 32767.0), sr_hz


# ---------------------------------------------------------------- flac (real)


def _encode_flac(pcm: np.ndarray, sr_hz: int) -> bytes:
    try:
        return _flac.encode_flac(pcm, sr_hz)
    except _flac.FlacError as e:
        raise CodecError(f"flac encode failed: {e}") from e


def _decode_flac(payload: bytes) -> tuple[np.ndarray, int]:
    try:
        return _flac.decode_flac(payload)
    except _flac.FlacError as e:
        raise CodecError(f"flac decode failed: {e}") from e


# ---------------------------------------------------------------- IMA ADPCM

# Standard IMA/DVI step-size table (89 entries) and index-adjustment
# table — these exact constants are normative for the format (RIFF
# WAVE 0x0011 / Apple 'ima4'); any implementation interoperates only
# by using them verbatim.
_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767,
)
_IMA_INDEX_ADJ = (-1, -1, -1, -1, 2, 4, 6, 8)


def _encode_adpcm(pcm: np.ndarray, sr_hz: int) -> bytes:
    samples = np.round(np.clip(pcm, -1.0, 1.0) * 32767.0).astype(np.int64)
    n = len(samples)
    # header carries the initial predictor (the first sample, sent
    # verbatim like a WAV ADPCM block header) + initial step index
    if n == 0:
        return _MAGIC_ADPCM + struct.pack("<IQhB", sr_hz, 0, 0, 0)
    pred = int(samples[0])
    index = 0
    nibbles = bytearray((n - 1 + 1) // 2)
    steps, adj = _IMA_STEPS, _IMA_INDEX_ADJ
    sample_list = samples.tolist()
    nib_hi = False
    pos = 0
    for s in sample_list[1:]:
        step = steps[index]
        diff = s - pred
        code = 0
        if diff < 0:
            code = 8
            diff = -diff
        vpdiff = step >> 3
        if diff >= step:
            code |= 4
            diff -= step
            vpdiff += step
        step >>= 1
        if diff >= step:
            code |= 2
            diff -= step
            vpdiff += step
        step >>= 1
        if diff >= step:
            code |= 1
            vpdiff += step
        if code & 8:
            pred -= vpdiff
        else:
            pred += vpdiff
        if pred > 32767:
            pred = 32767
        elif pred < -32768:
            pred = -32768
        index += adj[code & 7]
        if index < 0:
            index = 0
        elif index > 88:
            index = 88
        if nib_hi:
            nibbles[pos] |= code << 4
            pos += 1
            nib_hi = False
        else:
            nibbles[pos] = code
            nib_hi = True
    return (
        _MAGIC_ADPCM
        + struct.pack("<IQhB", sr_hz, n, int(samples[0]), 0)
        + bytes(nibbles)
    )


def _decode_adpcm(payload: bytes) -> tuple[np.ndarray, int]:
    if len(payload) < 19 or payload[:4] != _MAGIC_ADPCM:
        raise CodecError("not an ADP0 payload")
    sr_hz, n, pred0, index0 = struct.unpack("<IQhB", payload[4:19])
    if n == 0:
        return np.zeros(0, np.float32), sr_hz
    body = payload[19:]
    need = (n - 1 + 1) // 2
    if len(body) != need:
        raise CodecError("truncated ADP0 data")
    if index0 > 88:
        raise CodecError("invalid ADP0 step index")
    # unpack both nibbles of every byte up front (vectorized), then run
    # the sequential predictor loop over the flat code list
    b = np.frombuffer(body, dtype=np.uint8)
    codes = np.empty(len(b) * 2, dtype=np.uint8)
    codes[0::2] = b & 0x0F
    codes[1::2] = b >> 4
    code_list = codes[: n - 1].tolist()
    out = [0] * n
    pred = int(pred0)
    out[0] = pred
    index = int(index0)
    steps, adj = _IMA_STEPS, _IMA_INDEX_ADJ
    i = 1
    for code in code_list:
        step = steps[index]
        vpdiff = step >> 3
        if code & 4:
            vpdiff += step
        if code & 2:
            vpdiff += step >> 1
        if code & 1:
            vpdiff += step >> 2
        if code & 8:
            pred -= vpdiff
        else:
            pred += vpdiff
        if pred > 32767:
            pred = 32767
        elif pred < -32768:
            pred = -32768
        out[i] = pred
        i += 1
        index += adj[code & 7]
        if index < 0:
            index = 0
        elif index > 88:
            index = 88
    pcm = np.asarray(out, dtype=np.float32) / 32767.0
    return pcm, sr_hz


# --------------------------------------------------- opus (metadata tier)


def _encode_opus(pcm: np.ndarray, sr_hz: int) -> bytes:
    """Structurally-valid Ogg Opus declaring len(pcm)/sr_hz of audio
    (real pages/CRCs/headers/TOC — audio/opus.py); the frame bodies
    are deterministic pseudo-payload (seeded from the samples), since
    the engine's opus tier never entropy-decodes."""
    q = np.round(np.clip(pcm, -1.0, 1.0) * 32767.0).astype("<i2")
    seed = zlib.crc32(q.tobytes())
    return _opus.encode_ogg_opus(len(pcm), int(sr_hz), seed=seed)


def _decode_opus(payload: bytes) -> tuple[np.ndarray, int]:
    raise PcmUnsupportedError(
        "audio_codec_unsupported_pcm(opus)"
    )


_ENCODERS = {
    "pcm16": _encode_wav_pcm16,
    "mulaw": _encode_mulaw,
    "alaw": _encode_alaw,
    "flac": _encode_flac,
    "adpcm": _encode_adpcm,
    "opus": _encode_opus,
}
_DECODERS = {
    "pcm16": _decode_wav_pcm16,
    "mulaw": _decode_mulaw,
    "alaw": _decode_alaw,
    "flac": _decode_flac,
    "adpcm": _decode_adpcm,
    "opus": _decode_opus,
}


# Metadata inspectors: codec -> callable(payload) -> dict with at
# least {error, input_sr, duration_ms}. Used by the decode UDF when a
# codec's PCM tier raises PcmUnsupportedError, so container-sanity
# and duration-consistency checks stay REAL without entropy decode.
_METADATA_INSPECTORS: dict[str, object] = {
    "opus": _opus.inspect,
}


def register_pcm_decoder(codec: str, decoder, encoder=None) -> None:
    """Plug-in seam for native decoders (libopus / libflac / libav):
    registers `decoder(payload) -> (pcm float32, sr_hz)` (and
    optionally an encoder) for `codec`, REPLACING a PcmUnsupported
    stub or adding a brand-new codec. Everything downstream — the
    decode UDF, SNR gate, per-codec thresholds, validation plan — is
    keyed off these registries and needs no edit. The decoder must
    raise CodecError (or any ValueError, which the UDF treats as
    decode failure) on malformed payloads.

    Cluster note: this mutates the REGISTRY OF THE IMPORTING PROCESS.
    Spark executors run their own python workers, so register either
    (a) at import time of a module shipped via --py-files and named in
    $DVS_AUDIO_PLUGINS (imported by every worker when codecs.py
    loads), or (b) per-call via run_audio_checks(decoder_plugins=...),
    which ships the callables inside the UDF closure — the same
    mechanism Spark uses for all user code."""
    _DECODERS[codec] = decoder
    if encoder is not None:
        _ENCODERS[codec] = encoder


def _load_env_plugins() -> None:
    """Import plugin modules named in $DVS_AUDIO_PLUGINS (comma-
    separated); each registers codecs at import. Runs once at module
    import in EVERY process (driver and python workers alike), which
    is what makes --py-files-shipped native decoders visible to the
    decode UDF without any engine edit."""
    import importlib
    import os

    for mod in filter(None, os.environ.get("DVS_AUDIO_PLUGINS", "").split(",")):
        try:
            importlib.import_module(mod.strip())
        except Exception as e:  # a broken plugin must not kill validation
            import sys

            print(f"audio plugin {mod!r} failed to load: {e}", file=sys.stderr)


def register_metadata_inspector(codec: str, inspector) -> None:
    """Register `inspector(payload) -> {error, input_sr, duration_ms,
    ...}` consulted when the codec's PCM tier is unsupported."""
    _METADATA_INSPECTORS[codec] = inspector


def inspect_metadata(
    codec: str, payload: bytes, inspectors: dict | None = None
) -> dict | None:
    """Metadata-tier inspection for codecs without PCM decode; None
    when the codec has no registered inspector.

    `inspectors` (codec -> inspect callable) takes precedence over the
    module registry — the closure-shipped per-call plug-in path, the
    inspector analogue of `decode(plugins=...)` (module-registry
    registration happens on the driver; spark python workers import
    this module fresh, so per-call plug-ins must ride the UDF
    closure or $DVS_AUDIO_PLUGINS)."""
    ins = (inspectors or {}).get(codec) or _METADATA_INSPECTORS.get(codec)
    if ins is None:
        return None
    try:
        return ins(payload)
    except Exception as e:  # plugin isolation, same contract as decode()
        return {"error": f"{codec}: {e}"}


def encode(codec: str, pcm: np.ndarray, sr_hz: int) -> bytes:
    try:
        enc = _ENCODERS[codec]
    except KeyError:
        raise CodecError(f"unknown codec {codec!r}") from None
    return enc(np.asarray(pcm, dtype=np.float32), int(sr_hz))


def decode(
    codec: str, payload: bytes, plugins: dict | None = None
) -> tuple[np.ndarray, int]:
    """-> (pcm float32 in [-1, 1], sr_hz). Raises CodecError.

    `plugins` (codec -> decode callable) takes precedence over the
    module registry — the closure-shipped per-call plug-in path."""
    if payload is None:
        raise CodecError("null payload")
    dec = (plugins or {}).get(codec) or _DECODERS.get(codec)
    if dec is None:
        raise CodecError(f"unknown codec {codec!r}")
    try:
        return dec(bytes(payload))
    except CodecError:
        raise
    except Exception as e:  # plugin isolation: native bindings raise
        # arbitrary exception types; one bad payload must become a
        # decode_error ROW, never a task crash that kills the batch
        raise CodecError(f"{codec}: {e}") from e


def decode_batch(codec_col, payloads, plugins: dict | None = None, skip=None):
    """Decode a batch of rows -> an iterator with one outcome per row,
    in row order: None for a row whose `skip` is set, (pcm, sr_hz) when
    it decoded, or the CodecError that `decode` raised for it (a
    PcmUnsupportedError for metadata-tier codecs).

    The outcomes equal per-row `decode(codec, payload, plugins)`. FLAC
    rows decode together first (flac.decode_flac_batch) unless a plug-in
    or a registered decoder overrides flac; rows the batch decoder does
    not accept decode per row, which also gives them decode's error
    text. The other rows decode lazily, as the iterator reaches them."""
    n = len(payloads)
    skip = np.zeros(n, dtype=bool) if skip is None else skip
    done: dict = {}
    if ((plugins or {}).get("flac") or _DECODERS.get("flac")) is _decode_flac:
        rows = [
            i for i in range(n)
            if not skip[i] and codec_col[i] == "flac" and payloads[i] is not None
        ]
        try:
            got = _flac.decode_flac_batch([bytes(payloads[i]) for i in rows])
        except Exception:  # never fail a batch: decode the rows one by one
            import traceback

            traceback.print_exc()
            got = []
        done = {i: r for i, r in zip(rows, got) if r is not None}
    for i in range(n):
        if skip[i]:
            yield None
            continue
        out = done.pop(i, None)
        if out is None:
            try:
                out = decode(codec_col[i], payloads[i], plugins=plugins)
            except CodecError as e:
                out = e
        yield out


def snr_db(reference: np.ndarray, decoded: np.ndarray) -> float:
    """10*log10(sum(ref^2) / sum((ref-dec)^2)); inf when identical.

    The graft's per-row invariant (BASELINE.json input_hint): decoded
    PCM must be allclose to the reference recipe at SNR >= 30 dB.
    """
    ref = np.asarray(reference, dtype=np.float32)
    dec = np.asarray(decoded, dtype=np.float32)
    if ref.shape != dec.shape:
        return float("-inf")
    # dot-product forms: no squared temporaries, single pass each
    # (this runs once per row in the decode UDF; bandwidth matters)
    diff = ref - dec
    noise = float(np.dot(diff, diff))
    sig = float(np.dot(ref, ref))
    if noise == 0.0:
        return float("inf")
    if sig == 0.0:
        return float("-inf")
    return 10.0 * np.log10(sig / noise)


# import-time plugin discovery: every process that imports this module
# (driver, spark python workers) loads $DVS_AUDIO_PLUGINS modules,
# which call register_pcm_decoder/register_metadata_inspector
_load_env_plugins()
