"""REAL Opus metadata tier: RFC 6716 TOC/packet parsing + RFC 3533
Ogg container walk with page-CRC verification.

PCM decode for Opus is NOT implemented — there is no feasible
pure-python CELT/SILK path at validation throughput (evidenced in
BASELINE.md: no pip, no network, no native libs). What IS real, and
what this module provides, is everything the bitstream declares
without entropy decoding:

  * the TOC byte (RFC 6716 §3.1): config -> mode / audio bandwidth /
    frame duration; stereo flag; frame-count code,
  * per-packet frame counts and durations incl. the code-3 count
    byte (§3.2.5) and the R1/R3/R5 well-formedness rules (§3.4),
  * the Ogg encapsulation (RFC 7845 over RFC 3533): page magic /
    version / CRC-32 verification, lacing-based packet reassembly,
    BOS/EOS flags, page-sequence continuity, OpusHead / OpusTags
    header packets, granule-position accounting at the 48 kHz clock.

That makes duration-consistency and container-sanity REAL validation
for opus payloads (the reference's rt-bounds analogue,
/root/reference/validators/core_models.py:169-202), while the SNR
path honestly reports ``audio_codec_unsupported_pcm(opus)`` instead
of a synthetic pass. A production deployment registers a libopus
decode callable via audio.codecs.register_pcm_decoder and the SNR
tier lights up with no other change.

The module also synthesizes structurally-valid Ogg Opus streams for
fixtures (``encode_ogg_opus``): valid pages, CRCs, headers, and TOC
bytes around deterministic pseudo-payload frames (the frame BODIES
are not real CELT data — irrelevant to the metadata tier, which
never entropy-decodes). Defect knobs plant granule skew, CRC damage,
and malformed packets for oracle queries.
"""

from __future__ import annotations

import struct

import numpy as np


class OpusError(ValueError):
    """Malformed Opus packet or Ogg encapsulation."""


# ---------------------------------------------------------------- TOC tables
# RFC 6716 §3.1 Table 2: config -> (mode, bandwidth, frame ms)
_SILK_MS = (10.0, 20.0, 40.0, 60.0)
_HYBRID_MS = (10.0, 20.0)
_CELT_MS = (2.5, 5.0, 10.0, 20.0)

CONFIG_FRAME_MS: tuple[float, ...] = (
    _SILK_MS * 3 + _HYBRID_MS * 2 + _CELT_MS * 4
)
CONFIG_MODE: tuple[str, ...] = ("silk",) * 12 + ("hybrid",) * 4 + ("celt",) * 16
CONFIG_BANDWIDTH: tuple[str, ...] = (
    ("nb",) * 4 + ("mb",) * 4 + ("wb",) * 4          # SILK
    + ("swb",) * 2 + ("fb",) * 2                      # hybrid
    + ("nb",) * 4 + ("wb",) * 4 + ("swb",) * 4 + ("fb",) * 4  # CELT
)

MAX_PACKET_MS = 120.0  # RFC 6716 §3.4 rule R5


def parse_toc(toc: int) -> tuple[int, bool, int]:
    """TOC byte -> (config 0-31, stereo, frame-count code 0-3)."""
    return toc >> 3, bool((toc >> 2) & 1), toc & 0x3


def packet_info(data: bytes) -> dict:
    """Parse one Opus packet's TOC + frame-count structure (no entropy
    decode). Returns {config, mode, bandwidth, stereo, frames,
    frame_ms, duration_ms}. Raises OpusError on the RFC 6716 §3.4
    well-formedness rules this tier can see (R1, R3-ish length checks,
    R5)."""
    if len(data) < 1:
        raise OpusError("empty opus packet (R1)")
    config, stereo, code = parse_toc(data[0])
    frame_ms = CONFIG_FRAME_MS[config]
    if code == 0:
        frames = 1
    elif code == 1:
        if (len(data) - 1) % 2 != 0:
            raise OpusError("code-1 packet with odd payload (R3)")
        frames = 2
    elif code == 2:
        if len(data) < 2:
            raise OpusError("code-2 packet missing length byte")
        n1 = data[1]
        off = 2
        if n1 >= 252:
            if len(data) < 3:
                raise OpusError("code-2 packet truncated length")
            n1 = data[2] * 4 + n1
            off = 3
        if n1 > len(data) - off:
            raise OpusError("code-2 first-frame length exceeds packet")
        frames = 2
    else:  # code 3: count byte (§3.2.5)
        if len(data) < 2:
            raise OpusError("code-3 packet missing count byte")
        m = data[1] & 0x3F
        if m == 0:
            raise OpusError("code-3 packet with zero frames (R5)")
        frames = m
    duration = frames * frame_ms
    if duration > MAX_PACKET_MS:
        raise OpusError(
            f"packet duration {duration:g}ms exceeds 120ms (R5)"
        )
    return {
        "config": config,
        "mode": CONFIG_MODE[config],
        "bandwidth": CONFIG_BANDWIDTH[config],
        "stereo": stereo,
        "frames": frames,
        "frame_ms": frame_ms,
        "duration_ms": duration,
    }


# ---------------------------------------------------------------- Ogg CRC-32
# RFC 3533 §6: poly 0x04C11DB7, init 0, no reflection, no final xor
_CRC_TABLE = []
for _i in range(256):
    _r = _i << 24
    for _ in range(8):
        _r = ((_r << 1) ^ 0x04C11DB7) if _r & 0x80000000 else (_r << 1)
        _r &= 0xFFFFFFFF
    _CRC_TABLE.append(_r)


def ogg_crc(data: bytes) -> int:
    crc = 0
    tbl = _CRC_TABLE
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ tbl[(crc >> 24) ^ b]
    return crc


_OGG_MAGIC = b"OggS"
_FLAG_CONT, _FLAG_BOS, _FLAG_EOS = 0x01, 0x02, 0x04
OPUS_GRANULE_HZ = 48_000  # RFC 7845 §4: granule clock is always 48 kHz


def _walk_pages(payload: bytes):
    """Yield (flags, granule, serial, seq, lacings, body) per Ogg page,
    verifying magic / version / CRC / length as it goes."""
    off = 0
    n = len(payload)
    while off < n:
        if n - off < 27:
            raise OpusError("truncated ogg page header")
        if payload[off : off + 4] != _OGG_MAGIC:
            raise OpusError("bad ogg capture pattern")
        if payload[off + 4] != 0:
            raise OpusError(f"unsupported ogg version {payload[off + 4]}")
        flags = payload[off + 5]
        granule, serial, seq, crc = struct.unpack_from(
            "<qIII", payload, off + 6
        )
        nsegs = payload[off + 26]
        seg_end = off + 27 + nsegs
        if seg_end > n:
            raise OpusError("truncated ogg segment table")
        lacings = payload[off + 27 : seg_end]
        body_len = sum(lacings)
        page_end = seg_end + body_len
        if page_end > n:
            raise OpusError("truncated ogg page body")
        page = bytearray(payload[off:page_end])
        page[22:26] = b"\x00\x00\x00\x00"
        if ogg_crc(bytes(page)) != crc:
            raise OpusError(f"ogg page crc mismatch (page seq {seq})")
        yield flags, granule, serial, seq, lacings, payload[seg_end:page_end]
        off = page_end


def _packets(payload: bytes):
    """Reassemble packets across lacing values / pages; yields
    (packet_bytes, page_granule, page_flags) where granule/flags are
    those of the page the packet ENDS on."""
    pending = bytearray()
    prev_seq = None
    saw_bos = saw_eos = False
    for flags, granule, _serial, seq, lacings, body in _walk_pages(payload):
        if prev_seq is None:
            if not flags & _FLAG_BOS:
                raise OpusError("first ogg page missing BOS flag")
            saw_bos = True
        elif seq != prev_seq + 1:
            raise OpusError(
                f"ogg page sequence gap ({prev_seq} -> {seq})"
            )
        if saw_eos:
            raise OpusError("ogg data after EOS page")
        prev_seq = seq
        if flags & _FLAG_EOS:
            saw_eos = True
        pos = 0
        for lac in lacings:
            pending += body[pos : pos + lac]
            pos += lac
            if lac < 255:
                yield bytes(pending), granule, flags
                pending.clear()
    if not saw_bos:
        raise OpusError("no ogg pages found")
    if not saw_eos:
        raise OpusError("final ogg page missing EOS flag")
    if pending:
        raise OpusError("unterminated ogg packet at end of stream")


def _parse_head(packet: bytes) -> dict:
    """OpusHead (RFC 7845 §5.1) incl. the channel-mapping table
    (§5.1.1). Raises OpusError on any structural violation; returns
    {channels, pre_skip, input_sr, mapping_family, stream_count,
    coupled_count}."""
    if len(packet) < 19 or packet[:8] != b"OpusHead":
        raise OpusError("first packet is not OpusHead")
    version = packet[8]
    if version >> 4 != 0:  # RFC 7845 §5.1: major version 0
        raise OpusError(f"unsupported OpusHead version {version}")
    channels = packet[9]
    if channels < 1:
        raise OpusError("OpusHead declares zero channels")
    pre_skip, input_sr = struct.unpack_from("<HI", packet, 10)
    family = packet[18]
    if family == 0:
        # §5.1.1: family 0 is mono/stereo, mapping table MUST be
        # omitted (implicit single stream, coupled = channels - 1)
        if channels > 2:
            raise OpusError(
                f"mapping family 0 with {channels} channels (max 2)"
            )
        if len(packet) != 19:
            raise OpusError(
                "mapping family 0 carries a channel mapping table"
            )
        streams, coupled = 1, channels - 1
    elif family in (1, 255):
        if family == 1 and channels > 8:
            raise OpusError(
                f"mapping family 1 with {channels} channels (max 8)"
            )
        if len(packet) < 21 + channels:
            raise OpusError("channel mapping table truncated")
        if len(packet) != 21 + channels:
            raise OpusError("trailing bytes after the channel mapping table")
        streams = packet[19]
        coupled = packet[20]
        if streams < 1:
            raise OpusError("OpusHead declares zero streams")
        if coupled > streams:
            raise OpusError(
                f"coupled streams {coupled} exceed stream count {streams}"
            )
        if streams + coupled > 255:
            raise OpusError("stream_count + coupled_count exceeds 255")
        n_dec = streams + coupled  # decoded channel indices 0..n_dec-1
        for ch, m in enumerate(packet[21 : 21 + channels]):
            if m != 255 and m >= n_dec:
                raise OpusError(
                    f"channel {ch} maps to stream index {m} "
                    f"(only {n_dec} decoded channels)"
                )
    else:
        raise OpusError(f"unknown channel mapping family {family}")
    return {
        "channels": channels,
        "pre_skip": pre_skip,
        "input_sr": input_sr,
        "mapping_family": family,
        "stream_count": streams,
        "coupled_count": coupled,
    }


def _parse_tags(packet: bytes) -> int:
    """OpusTags (RFC 7845 §5.2): vendor string + user comment list,
    every length fitting the packet, every comment valid UTF-8 with a
    `KEY=value` shape (key chars 0x20..0x7D excluding '=').
    Returns the comment count; raises OpusError on violation."""
    if len(packet) < 8 or packet[:8] != b"OpusTags":
        raise OpusError("second packet is not OpusTags")
    if len(packet) < 12:
        raise OpusError("OpusTags missing vendor length")
    (vlen,) = struct.unpack_from("<I", packet, 8)
    off = 12 + vlen
    if off + 4 > len(packet):
        raise OpusError("OpusTags vendor string exceeds packet")
    try:
        packet[12:off].decode("utf-8")
    except UnicodeDecodeError:
        raise OpusError("OpusTags vendor string is not UTF-8")
    (n_comments,) = struct.unpack_from("<I", packet, off)
    off += 4
    for i in range(n_comments):
        if off + 4 > len(packet):
            raise OpusError(f"OpusTags comment {i} missing length")
        (clen,) = struct.unpack_from("<I", packet, off)
        off += 4
        if off + clen > len(packet):
            raise OpusError(f"OpusTags comment {i} exceeds packet")
        raw = packet[off : off + clen]
        off += clen
        try:
            text = raw.decode("utf-8")
        except UnicodeDecodeError:
            raise OpusError(f"OpusTags comment {i} is not UTF-8")
        eq = text.find("=")
        if eq < 1:
            raise OpusError(f"OpusTags comment {i} missing KEY=")
        key = text[:eq]
        if any(not ("\x20" <= c <= "\x7d") or c == "=" for c in key):
            raise OpusError(f"OpusTags comment {i} has invalid key")
    return n_comments


def inspect(payload: bytes) -> dict:
    """Full metadata-tier inspection of an Ogg Opus payload.

    Returns {error, channels, input_sr, pre_skip, mapping_family,
    stream_count, coupled_count, n_comments, n_packets,
    toc_duration_ms, granule_duration_ms, duration_ms, bandwidth,
    stereo}. `error` is None for a structurally-sound stream; any
    container/packet violation makes `error` the (value-echoing)
    message and leaves the remaining fields best-effort. duration_ms
    prefers the granule accounting (what a decoder would emit) and
    falls back to the TOC sum.

    Cross-checks: granule-implied duration may trail the TOC sum by
    up to one packet (end-trimming, RFC 7845 §4.5) but may never
    exceed it, and a shortfall beyond MAX_PACKET_MS means the granule
    position lies about the stream. The header tier covers the FULL
    RFC 7845 container surface: channel-mapping family/table sanity
    (§5.1.1 — stream/coupled counts, per-channel indices) and
    OpusTags comment-header validity (§5.2)."""
    out = {
        "error": None,
        "channels": None,
        "input_sr": None,
        "pre_skip": None,
        "mapping_family": None,
        "stream_count": None,
        "coupled_count": None,
        "n_comments": None,
        "n_packets": 0,
        "toc_duration_ms": None,
        "granule_duration_ms": None,
        "duration_ms": None,
        "bandwidth": None,
        "stereo": None,
    }
    if payload is None:
        out["error"] = "null payload"
        return out
    try:
        toc_sum = 0.0
        last_granule = None
        idx = 0
        for packet, granule, _flags in _packets(bytes(payload)):
            if idx == 0:
                out.update(_parse_head(packet))
            elif idx == 1:
                out["n_comments"] = _parse_tags(packet)
            else:
                info = packet_info(packet)
                toc_sum += info["duration_ms"]
                out["n_packets"] += 1
                if out["bandwidth"] is None:
                    out["bandwidth"] = info["bandwidth"]
                    out["stereo"] = info["stereo"]
            last_granule = granule
            idx += 1
        if idx < 2:
            raise OpusError("missing OpusHead/OpusTags packets")
        out["toc_duration_ms"] = toc_sum
        if last_granule is not None and out["pre_skip"] is not None:
            g_ms = (
                (last_granule - out["pre_skip"]) * 1000.0 / OPUS_GRANULE_HZ
            )
            out["granule_duration_ms"] = g_ms
            if g_ms > toc_sum + 0.5:
                raise OpusError(
                    f"granule duration {g_ms:.1f}ms exceeds "
                    f"TOC sum {toc_sum:.1f}ms"
                )
            if toc_sum - g_ms > MAX_PACKET_MS:
                raise OpusError(
                    f"granule duration {g_ms:.1f}ms trails TOC sum "
                    f"{toc_sum:.1f}ms by more than one packet"
                )
            out["duration_ms"] = g_ms
        else:
            out["duration_ms"] = toc_sum
    except OpusError as e:
        out["error"] = str(e)
    except Exception as e:  # struct errors on garbage bytes
        out["error"] = f"malformed opus payload: {e}"
    return out


# ---------------------------------------------------------------- synthesis
_PHI = np.uint64(0x9E3779B97F4A7C15)
_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)


def _mix(seed: int, i: int) -> int:
    with np.errstate(over="ignore"):
        z = (np.uint64(i) + np.uint64(seed & 0xFFFFFFFFFFFFFFFF)) * _PHI
        z = (z ^ (z >> np.uint64(30))) * _M1
        z = (z ^ (z >> np.uint64(27))) * _M2
        return int(z ^ (z >> np.uint64(31)))


def _page(flags: int, granule: int, serial: int, seq: int,
          packets: list[bytes]) -> bytes:
    lacings = bytearray()
    body = bytearray()
    for p in packets:
        if len(p) >= 255:
            raise OpusError("synthesized packet >= 255 bytes unsupported")
        lacings.append(len(p))
        body += p
    head = bytearray(_OGG_MAGIC)
    head += struct.pack("<BBqIII", 0, flags, granule, serial, seq, 0)
    head.append(len(lacings))
    head += lacings
    page = bytes(head) + bytes(body)
    crc = ogg_crc(page)
    return page[:22] + struct.pack("<I", crc) + page[26:]


# 20ms CELT fullband = config 31; 10ms = 30; 5ms = 29; 2.5ms = 28
_CELT_FB_BY_MS = {20.0: 31, 10.0: 30, 5.0: 29, 2.5: 28}
_PRE_SKIP = 312


def encode_ogg_opus(
    n_samples: int,
    sr_hz: int,
    seed: int = 0,
    granule_skew_ms: float = 0.0,
    corrupt_crc: bool = False,
    plant_bad_packet: bool = False,
    mapping_family: int = 0,
    channels: int = 1,
    bad_mapping: bool = False,
    bad_tags: bool = False,
) -> bytes:
    """Structurally-valid Ogg Opus stream declaring n_samples/sr_hz of
    audio: real pages + CRCs + OpusHead/OpusTags + TOC-valid CELT-FB
    packets around deterministic pseudo-payload frame bodies (the
    metadata tier never entropy-decodes, so the bodies' content is
    irrelevant — their SIZES vary per seed like a VBR stream's).

    Duration is quantized to the 2.5ms CELT grid (max error 1.25ms,
    far inside the engine's 50ms duration tolerance). Defect knobs:
    granule_skew_ms shifts the final granule (internal inconsistency),
    corrupt_crc flips a body byte after CRC computation,
    plant_bad_packet appends a zero-length audio packet (R1),
    bad_mapping writes a family-1 table whose coupled count exceeds
    its stream count (RFC 7845 §5.1.1), and bad_tags declares a
    comment length running past the OpusTags packet (§5.2).
    mapping_family=1 with channels=2 emits a VALID coupled-stereo
    mapping table (the multistream-clean fixture class)."""
    duration_ms = n_samples * 1000.0 / sr_hz
    units = max(1, int(round(duration_ms / 2.5)))  # 2.5ms units
    # 120ms code-3 packets of 6x20ms frames, then one shorter code-3
    # pack of 20ms frames, then single code-0 packets down the grid
    packets: list[tuple[bytes, float]] = []

    def _frame_body(k: int) -> bytes:
        m = _mix(seed, k)
        size = 12 + (m % 28)  # 12..39 bytes, VBR-ish
        gen = np.random.default_rng(m & 0xFFFFFFFF)
        return gen.bytes(size)

    k = 0
    full, rem = divmod(units, 8 * 6)  # 48 units = one 6-frame packet
    for _ in range(full):
        toc = (_CELT_FB_BY_MS[20.0] << 3) | 3
        frames = [_frame_body(k + j) for j in range(6)]
        k += 6
        # code-3 CBR: count byte = frames (vbr=0, pad=0); CBR frame
        # sizes must be equal -> pad bodies to the max of the pack
        w = max(len(f) for f in frames)
        body = b"".join(f.ljust(w, b"\x00") for f in frames)
        packets.append((bytes([toc, 6]) + body, 120.0))
    n20, rem = divmod(rem, 8)
    if n20:
        toc = (_CELT_FB_BY_MS[20.0] << 3) | (3 if n20 > 1 else 0)
        frames = [_frame_body(k + j) for j in range(n20)]
        k += n20
        if n20 > 1:
            w = max(len(f) for f in frames)
            body = b"".join(f.ljust(w, b"\x00") for f in frames)
            packets.append((bytes([toc, n20]) + body, 20.0 * n20))
        else:
            packets.append((bytes([toc]) + frames[0], 20.0))
    for ms, nu in ((10.0, 4), (5.0, 2), (2.5, 1)):
        if rem >= nu:
            rem -= nu
            toc = (_CELT_FB_BY_MS[ms] << 3) | 0
            packets.append((bytes([toc]) + _frame_body(k), ms))
            k += 1
    if plant_bad_packet:
        packets.append((b"", 0.0))

    if bad_mapping:
        # family-1 table violating §5.1.1: coupled_count > stream_count
        head = (
            b"OpusHead"
            + struct.pack("<BBHIhB", 1, 2, _PRE_SKIP, int(sr_hz), 0, 1)
            + bytes([1, 2, 0, 1])  # streams=1, coupled=2 (> streams)
        )
    elif mapping_family == 0:
        head = (
            b"OpusHead"
            + struct.pack(
                "<BBHIhB", 1, min(channels, 2), _PRE_SKIP, int(sr_hz), 0, 0
            )
        )
    else:
        # valid family-1/255 table: channels-1 coupled pairs + the rest
        # uncoupled would be the general layout; for the fixture the
        # coupled-stereo shape (streams=1, coupled=1, mapping 0..ch-1)
        # covers the table-validation path
        streams = max(1, channels - 1)
        coupled = channels - streams
        head = (
            b"OpusHead"
            + struct.pack(
                "<BBHIhB", 1, channels, _PRE_SKIP, int(sr_hz), 0,
                mapping_family,
            )
            + bytes([streams, coupled])
            + bytes(range(channels))
        )
    if bad_tags:
        # one comment whose declared length runs past the packet (§5.2)
        tags = (
            b"OpusTags" + struct.pack("<I", 4) + b"dvsk"
            + struct.pack("<I", 1) + struct.pack("<I", 1000) + b"K=v"
        )
    else:
        tags = (
            b"OpusTags" + struct.pack("<I", 4) + b"dvsk"
            + struct.pack("<I", 1)
            + struct.pack("<I", 14) + b"ENCODER=dvspk1"
        )

    serial = _mix(seed, 0xDEAD) & 0x7FFFFFFF
    pages = [_page(_FLAG_BOS, 0, serial, 0, [head])]
    pages.append(_page(0, 0, serial, 1, [tags]))
    toc_sum = 0.0
    seq = 2
    # ~50 packets per audio page keeps lacing single-byte and pages small
    for i in range(0, len(packets), 50):
        chunk = packets[i : i + 50]
        toc_sum += sum(d for _, d in chunk)
        last = i + 50 >= len(packets)
        granule = _PRE_SKIP + int(round(
            (toc_sum + (granule_skew_ms if last else 0.0))
            * OPUS_GRANULE_HZ / 1000.0
        ))
        pages.append(_page(
            _FLAG_EOS if last else 0, granule, serial, seq,
            [p for p, _ in chunk],
        ))
        seq += 1
    out = b"".join(pages)
    if corrupt_crc:
        # flip one bit inside the final page body (after its CRC)
        out = out[:-1] + bytes([out[-1] ^ 0x01])
    return out
