"""Opus metadata tier (audio/opus.py): RFC 6716 TOC/packet parsing +
RFC 3533 Ogg walk with CRC verification, and the native-decoder
plug-in seam consumed end-to-end by run_audio_checks."""

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_validator_spark.audio import codecs, opus


# ------------------------------------------------------------ TOC tables
def test_toc_frame_durations_rfc6716_table2():
    # spot-check the published table: config -> frame ms
    assert opus.CONFIG_FRAME_MS[0] == 10.0 and opus.CONFIG_FRAME_MS[3] == 60.0
    assert opus.CONFIG_FRAME_MS[11] == 60.0  # SILK WB 60ms
    assert opus.CONFIG_FRAME_MS[14] == 10.0  # hybrid FB 10ms
    assert opus.CONFIG_FRAME_MS[16] == 2.5   # CELT NB 2.5ms
    assert opus.CONFIG_FRAME_MS[31] == 20.0  # CELT FB 20ms
    assert opus.CONFIG_MODE[0] == "silk"
    assert opus.CONFIG_MODE[12] == "hybrid"
    assert opus.CONFIG_MODE[31] == "celt"
    assert opus.CONFIG_BANDWIDTH[31] == "fb"
    assert opus.CONFIG_BANDWIDTH[8] == "wb"


def test_packet_info_codes():
    toc20fb = opus._CELT_FB_BY_MS[20.0] << 3
    # code 0: one frame
    info = opus.packet_info(bytes([toc20fb | 0]) + b"x" * 10)
    assert (info["frames"], info["duration_ms"]) == (1, 20.0)
    # code 1: two equal frames, even payload required
    info = opus.packet_info(bytes([toc20fb | 1]) + b"x" * 10)
    assert (info["frames"], info["duration_ms"]) == (2, 40.0)
    with pytest.raises(opus.OpusError, match="R3"):
        opus.packet_info(bytes([toc20fb | 1]) + b"x" * 9)
    # code 2: explicit first-frame length
    info = opus.packet_info(bytes([toc20fb | 2, 3]) + b"abc" + b"de")
    assert info["frames"] == 2
    with pytest.raises(opus.OpusError, match="exceeds packet"):
        opus.packet_info(bytes([toc20fb | 2, 200]) + b"abc")
    # code 3: count byte
    info = opus.packet_info(bytes([toc20fb | 3, 4]) + b"x" * 16)
    assert (info["frames"], info["duration_ms"]) == (4, 80.0)
    with pytest.raises(opus.OpusError, match="R5"):
        opus.packet_info(bytes([toc20fb | 3, 0]))
    with pytest.raises(opus.OpusError, match="120ms"):
        opus.packet_info(bytes([toc20fb | 3, 7]) + b"x" * 10)
    with pytest.raises(opus.OpusError, match="R1"):
        opus.packet_info(b"")


def test_ogg_crc_vector():
    # independent property: CRC of a page with its own CRC zeroed must
    # reproduce the stored CRC for every page our encoder emits
    payload = opus.encode_ogg_opus(4800, 48000, seed=3)
    n_pages = 0
    off = 0
    while off < len(payload):
        assert payload[off : off + 4] == b"OggS"
        nsegs = payload[off + 26]
        body = sum(payload[off + 27 : off + 27 + nsegs])
        end = off + 27 + nsegs + body
        page = bytearray(payload[off:end])
        stored = struct.unpack_from("<I", page, 22)[0]
        page[22:26] = b"\x00\x00\x00\x00"
        assert opus.ogg_crc(bytes(page)) == stored
        off = end
        n_pages += 1
    assert n_pages >= 3  # OpusHead, OpusTags, >=1 audio page


def test_inspect_defect_classes():
    clean = opus.encode_ogg_opus(9600, 48000, seed=11)  # 200ms
    assert opus.inspect(clean)["error"] is None
    assert "granule" in opus.inspect(
        opus.encode_ogg_opus(9600, 48000, seed=11, granule_skew_ms=300)
    )["error"]
    assert "crc" in opus.inspect(
        opus.encode_ogg_opus(9600, 48000, seed=11, corrupt_crc=True)
    )["error"]
    assert "R1" in opus.inspect(
        opus.encode_ogg_opus(9600, 48000, seed=11, plant_bad_packet=True)
    )["error"]
    # truncations at every tier
    assert opus.inspect(clean[:20])["error"] is not None
    assert opus.inspect(clean[: len(clean) - 3])["error"] is not None
    assert opus.inspect(b"OggS" + b"\x00" * 10)["error"] is not None


def test_inspect_mapping_family_rules():
    """RFC 7845 §5.1.1: family-0 implicit mapping, valid family-1/255
    tables, and every table-violation class the validator can see."""
    mono = opus.inspect(opus.encode_ogg_opus(9600, 48000, seed=1))
    assert (mono["mapping_family"], mono["stream_count"],
            mono["coupled_count"]) == (0, 1, 0)
    ms = opus.inspect(
        opus.encode_ogg_opus(9600, 48000, seed=1, mapping_family=1,
                             channels=2)
    )
    assert ms["error"] is None
    assert (ms["channels"], ms["stream_count"], ms["coupled_count"]) == (2, 1, 1)
    # family 255 (discrete) allows >8 channels with a valid table
    disc = opus.inspect(
        opus.encode_ogg_opus(9600, 48000, seed=1, mapping_family=255,
                             channels=3)
    )
    assert disc["error"] is None and disc["mapping_family"] == 255
    # violations, each built by editing a valid head packet
    assert "coupled streams" in opus.inspect(
        opus.encode_ogg_opus(9600, 48000, seed=1, bad_mapping=True)
    )["error"]

    def _rebuild_with_head(head_pkt):
        # rebuild the stream with a custom OpusHead: reuse the clean
        # stream's tags + audio pages, replace page 0
        clean = opus.encode_ogg_opus(9600, 48000, seed=1)
        pages = []
        off = 0
        while off < len(clean):
            nsegs = clean[off + 26]
            end = off + 27 + nsegs + sum(clean[off + 27 : off + 27 + nsegs])
            pages.append(clean[off:end])
            off = end
        serial = struct.unpack_from("<I", pages[0], 14)[0]
        return opus._page(0x02, 0, serial, 0, [head_pkt]) + b"".join(pages[1:])

    # family 0 with 3 channels
    bad = bytearray(b"OpusHead" + struct.pack("<BBHIhB", 1, 3, 312, 48000, 0, 0))
    assert "max 2" in opus.inspect(_rebuild_with_head(bytes(bad)))["error"]
    # family 0 carrying a mapping table
    bad = bytearray(
        b"OpusHead" + struct.pack("<BBHIhB", 1, 2, 312, 48000, 0, 0) + b"\x01"
    )
    assert "table" in opus.inspect(_rebuild_with_head(bytes(bad)))["error"]
    # family 1 mapping index out of range (2 channels, 1 stream+1 coupled
    # -> decoded indices 0..1; channel 1 maps to 7)
    bad = bytearray(
        b"OpusHead" + struct.pack("<BBHIhB", 1, 2, 312, 48000, 0, 1)
        + bytes([1, 1, 0, 7])
    )
    assert "maps to stream index" in opus.inspect(
        _rebuild_with_head(bytes(bad))
    )["error"]
    # zero streams
    bad = bytearray(
        b"OpusHead" + struct.pack("<BBHIhB", 1, 2, 312, 48000, 0, 1)
        + bytes([0, 0, 0, 1])
    )
    assert "zero streams" in opus.inspect(_rebuild_with_head(bytes(bad)))["error"]
    # unknown family
    bad = bytearray(b"OpusHead" + struct.pack("<BBHIhB", 1, 2, 312, 48000, 0, 7))
    assert "unknown channel mapping family" in opus.inspect(
        _rebuild_with_head(bytes(bad))
    )["error"]



def test_mapping_table_exact_length():
    """Families 1 and 255 carry exactly `channels` mapping bytes after
    the 21-byte head: bytes past the table are rejected like family 0's
    trailing table, and the fixture's own family-1 heads stay valid."""
    for family, channels in ((1, 2), (255, 3)):
        clean = opus.encode_ogg_opus(
            9600, 48000, seed=1, mapping_family=family, channels=channels
        )
        assert opus.inspect(clean)["error"] is None
        pages, off = [], 0
        while off < len(clean):
            nsegs = clean[off + 26]
            end = off + 27 + nsegs + sum(clean[off + 27 : off + 27 + nsegs])
            pages.append(clean[off:end])
            off = end
        nsegs = pages[0][26]
        pkt = pages[0][27 + nsegs :]
        assert len(pkt) == 21 + channels
        serial = struct.unpack_from("<I", pages[0], 14)[0]
        padded = opus._page(0x02, 0, serial, 0, [pkt + b"\x00"])
        err = opus.inspect(padded + b"".join(pages[1:]))["error"]
        assert err is not None and "trailing bytes" in err


def test_inspect_opustags_rules():
    """RFC 7845 §5.2: comment-length overflow, missing '=', invalid key
    charset, and non-UTF-8 payloads are all container rejects; a valid
    comment list reports n_comments."""
    ok = opus.inspect(opus.encode_ogg_opus(9600, 48000, seed=2))
    assert ok["error"] is None and ok["n_comments"] == 1
    assert "exceeds packet" in opus.inspect(
        opus.encode_ogg_opus(9600, 48000, seed=2, bad_tags=True)
    )["error"]

    def with_tags(tags_pkt):
        clean = opus.encode_ogg_opus(9600, 48000, seed=2)
        pages = []
        off = 0
        while off < len(clean):
            nsegs = clean[off + 26]
            end = off + 27 + nsegs + sum(clean[off + 27 : off + 27 + nsegs])
            pages.append(clean[off:end])
            off = end
        serial = struct.unpack_from("<I", pages[1], 14)[0]
        return pages[0] + opus._page(0, 0, serial, 1, [tags_pkt]) + b"".join(
            pages[2:]
        )

    base = b"OpusTags" + struct.pack("<I", 4) + b"dvsk"
    # missing '='
    pkt = base + struct.pack("<I", 1) + struct.pack("<I", 5) + b"noequ"
    assert "missing KEY=" in opus.inspect(with_tags(pkt))["error"]
    # '=' first (empty key)
    pkt = base + struct.pack("<I", 1) + struct.pack("<I", 4) + b"=bad"
    assert "missing KEY=" in opus.inspect(with_tags(pkt))["error"]
    # invalid key charset (0x7E '~' is outside 0x20..0x7D)
    pkt = base + struct.pack("<I", 1) + struct.pack("<I", 4) + b"K~=v"
    assert "invalid key" in opus.inspect(with_tags(pkt))["error"]
    # non-UTF-8 comment body
    pkt = base + struct.pack("<I", 1) + struct.pack("<I", 4) + b"K=\xff\xfe"
    assert "not UTF-8" in opus.inspect(with_tags(pkt))["error"]
    # non-UTF-8 vendor string
    pkt = (b"OpusTags" + struct.pack("<I", 2) + b"\xff\xfe"
           + struct.pack("<I", 0))
    assert "vendor" in opus.inspect(with_tags(pkt))["error"]
    # vendor length past the packet
    pkt = b"OpusTags" + struct.pack("<I", 1000) + b"xy"
    assert "vendor" in opus.inspect(with_tags(pkt))["error"]


def test_inspect_duration_quantization():
    for ms, sr in [(37, 8000), (600, 16000), (1234, 48000)]:
        n = int(round(ms / 1000 * sr))
        info = opus.inspect(opus.encode_ogg_opus(n, sr, seed=ms))
        assert info["error"] is None
        assert abs(info["duration_ms"] - n * 1000.0 / sr) <= 1.26
        assert info["input_sr"] == sr


# --------------------------------------------- plug-in seam, end-to-end
def test_plugin_decoder_flows_through_run_audio_checks(spark):
    """Registering a decode callable for a brand-new codec makes the
    full SNR tier work through run_audio_checks with NO engine edit —
    the libopus/libflac swap seam, proven end-to-end."""
    from data_validator_spark.audio import synth
    from data_validator_spark.audio.checks import run_audio_checks

    def plug_decode(payload):
        sr, n = struct.unpack("<IQ", payload[:12])
        pcm = np.frombuffer(payload[12:], dtype="<f4")
        if len(pcm) != n:
            raise codecs.CodecError("plugcodec length mismatch")
        return pcm, sr

    def plug_encode(pcm, sr):
        return struct.pack("<IQ", sr, len(pcm)) + np.asarray(
            pcm, dtype="<f4"
        ).tobytes()

    # driver-side registration covers driver-local decode paths (and
    # the --py-files + $DVS_AUDIO_PLUGINS import hook covers workers);
    # here the CLOSURE path is exercised: decoder_plugins rides the
    # UDF closure to the python workers like any user code
    codecs.register_pcm_decoder("plugcodec", plug_decode, plug_encode)
    try:
        rows = []
        for i in range(8):
            cid = f"plug-{i:04d}"
            pcm = synth.reference_pcm(cid, 8000, 800)
            rows.append((cid, "plugcodec", 8000, codecs.encode("plugcodec", pcm, 8000)))
        df = spark.createDataFrame(
            rows, "clip_id string, codec string, sr_hz int, bytes binary"
        )
        out = run_audio_checks(df, decoder_plugins={"plugcodec": plug_decode})
        got = out.select("clip_id", "audio_decode_error", "audio_snr_db",
                         "_snr_label", "_pcm_unsupported_label").collect()
        assert all(r["audio_decode_error"] is None for r in got)
        assert all(r["audio_snr_db"] > 80 for r in got)  # lossless plug
        assert all(r["_snr_label"] is None for r in got)
        assert all(r["_pcm_unsupported_label"] is None for r in got)
    finally:
        codecs._DECODERS.pop("plugcodec", None)
        codecs._ENCODERS.pop("plugcodec", None)


def test_opus_rows_surface_unsupported_pcm_warning(spark):
    from data_validator_spark.audio import synth
    from data_validator_spark.audio.checks import run_audio_checks

    rows = []
    for i in range(6):
        cid = f"op-{i:04d}"
        pcm = synth.reference_pcm(cid, 16000, 1600)
        rows.append((cid, "opus", 16000, codecs.encode("opus", pcm, 16000)))
    df = spark.createDataFrame(
        rows, "clip_id string, codec string, sr_hz int, bytes binary"
    )
    got = run_audio_checks(df).collect()
    for r in got:
        assert r["audio_decode_error"] is None  # container checks passed
        assert r["audio_snr_db"] is None        # never a synthetic pass
        assert r["_pcm_unsupported_label"] == "audio_codec_unsupported_pcm(opus)"
        assert r["_snr_label"] is None
