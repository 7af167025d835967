"""GIF (LZW) and baseline JPEG (ITU-T T.81) codecs — pure
stdlib+numpy, operators/codecs.py. GIF roundtrips must be bit-exact
(lossless format); JPEG roundtrips are error-bounded (lossy by
construction) with the structural paths (4:2:0, restart markers, 0xFF
stuffing, generic DHT) individually pinned."""

from __future__ import annotations

import numpy as np
import pytest

from citibike_deep_dive_spark.operators.codecs import (
    _AC_BITS,
    _AC_VALS,
    _DC_BITS,
    _DC_VALS,
    _canonical_codes,
    _lzw_compress,
    _lzw_decompress,
    _zigzag_positions,
    decode_gif_pixels,
    decode_jpeg_pixels,
    encode_gif,
    encode_jpeg,
)
from citibike_deep_dive_spark.operators.multimodal import (
    _bmp_features,
    extract_features,
    gif_channel_stats,
    jpeg_channel_stats,
    parse_image_dimensions,
    resize_payload,
)

# ---------------------------------------------------------------------------
# GIF
# ---------------------------------------------------------------------------


def _palette_image(h: int, w: int, ncolors: int, seed: int):
    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, size=(ncolors, 3)).astype(np.uint8)
    return pal[rng.integers(0, ncolors, size=(h, w))]


def test_gif_roundtrip_exact_small_palette():
    px = _palette_image(13, 17, 5, seed=1)
    out = decode_gif_pixels(encode_gif(px))
    assert out is not None and np.array_equal(out, px)


def test_gif_roundtrip_exact_256_colors_with_dict_reset():
    # 100x100 high-entropy indices grow the LZW dictionary past 4096
    # entries, forcing the mid-stream CLEAR + reset path on both sides.
    px = _palette_image(100, 100, 256, seed=7)
    payload = encode_gif(px)
    out = decode_gif_pixels(payload)
    assert out is not None and np.array_equal(out, px)
    assert parse_image_dimensions(payload) == ("gif", 100, 100)


def test_gif_roundtrip_exact_interlaced():
    px = _palette_image(37, 23, 50, seed=3)
    out = decode_gif_pixels(encode_gif(px, interlace=True))
    assert out is not None and np.array_equal(out, px)


def test_gif_rejects_malformed():
    px = _palette_image(10, 10, 4, seed=2)
    g = encode_gif(px)
    assert decode_gif_pixels(g[:8]) is None
    assert decode_gif_pixels(g[:40]) is None
    assert decode_gif_pixels(b"not a gif at all") is None
    assert decode_gif_pixels(b"GIF89a" + b"\x00" * 4) is None


def test_gif_skips_extension_blocks():
    px = _palette_image(6, 9, 8, seed=4)
    g = bytearray(encode_gif(px))
    # splice a Graphic Control Extension before the image descriptor,
    # whose offset is 13 + the global color table (0x2C bytes can occur
    # inside the palette, so compute rather than scan)
    idx = 13 + 3 * (1 << ((g[10] & 7) + 1))
    assert g[idx] == 0x2C
    gce = bytes([0x21, 0xF9, 0x04, 0x00, 0x00, 0x00, 0x00, 0x00])
    patched = bytes(g[:idx]) + gce + bytes(g[idx:])
    out = decode_gif_pixels(patched)
    assert out is not None and np.array_equal(out, px)


def test_gif_lzw_stream_roundtrip_various_code_sizes():
    rng = np.random.default_rng(11)
    for ncodes, mcs in ((4, 2), (16, 4), (250, 8)):
        seq = rng.integers(0, ncodes, size=5000).tolist()
        out = _lzw_decompress(_lzw_compress(seq, mcs), mcs, len(seq))
        assert out == seq


def test_gif_encode_rejects_too_many_colors():
    rng = np.random.default_rng(13)
    px = rng.integers(0, 256, size=(40, 40, 3)).astype(np.uint8)
    assert len(np.unique(px.reshape(-1, 3), axis=0)) > 256
    with pytest.raises(ValueError):
        encode_gif(px)


# ---------------------------------------------------------------------------
# JPEG
# ---------------------------------------------------------------------------


def _gradient(h: int, w: int):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [
            np.clip(xx * 4 + 30, 0, 255),
            np.clip(yy * 5 + 20, 0, 255),
            np.clip(120 + xx + yy, 0, 255),
        ],
        axis=2,
    ).astype(np.uint8)


def test_jpeg_zigzag_matches_spec_prefix():
    zz = _zigzag_positions()
    assert zz[:8] == [
        (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
    ]
    assert zz[-1] == (7, 7) and len(set(zz)) == 64


def test_jpeg_huffman_tables_are_valid_prefix_codes():
    for bits, vals in ((_DC_BITS, _DC_VALS), (_AC_BITS, _AC_VALS)):
        assert sum(bits) == len(vals)
        codes = _canonical_codes(bits, vals)
        # Kraft inequality with slack (the all-ones max-length code
        # must stay unused per the usual JPEG padding convention)
        assert sum(2.0 ** -ln for _, ln in codes.values()) < 1.0


def test_jpeg_roundtrip_444_error_bounded():
    img = _gradient(24, 40)
    payload = encode_jpeg(img, quality=95)
    assert parse_image_dimensions(payload) == ("jpeg", 40, 24)
    out = decode_jpeg_pixels(payload)
    err = np.abs(out.astype(int) - img.astype(int))
    assert err.max() <= 4  # smooth image at q95: quantization is tiny


def test_jpeg_roundtrip_420_odd_dims():
    img = _gradient(37, 53)  # not multiples of the 16px MCU
    out = decode_jpeg_pixels(encode_jpeg(img, quality=92, subsample=True))
    assert out.shape == (37, 53, 3)
    err = np.abs(out.astype(int) - img.astype(int))
    assert err.max() <= 16  # chroma box-mean + nearest upsample

def test_jpeg_flat_image_decodes_exact():
    flat = np.full((16, 16, 3), 77, dtype=np.uint8)
    out = decode_jpeg_pixels(encode_jpeg(flat, quality=90))
    assert int(np.abs(out.astype(int) - 77).max()) == 0


def test_jpeg_restart_markers_do_not_change_pixels():
    img = _gradient(37, 53)
    plain = decode_jpeg_pixels(encode_jpeg(img, quality=92, subsample=True))
    restarted = decode_jpeg_pixels(
        encode_jpeg(img, quality=92, subsample=True, restart_interval=2)
    )
    assert np.array_equal(plain, restarted)


def test_jpeg_ff_stuffing_path():
    # q=100 noise produces an entropy stream containing a stuffed
    # 0xFF00 (verified property of this seed) — decode must unstuff.
    noise = np.random.default_rng(0).integers(0, 256, size=(32, 32, 3)).astype(
        np.uint8
    )
    payload = encode_jpeg(noise, quality=100)
    assert b"\xff\x00" in payload
    out = decode_jpeg_pixels(payload)
    assert out is not None and out.shape == (32, 32, 3)
    assert int(np.abs(out.astype(int) - noise.astype(int)).max()) <= 4


def test_jpeg_rejects_malformed_and_unsupported_sof():
    img = _gradient(16, 16)
    payload = bytearray(encode_jpeg(img, quality=90))
    assert decode_jpeg_pixels(bytes(payload[:40])) is None
    assert decode_jpeg_pixels(b"\xff\xd8\xff\xd9") is None
    assert decode_jpeg_pixels(b"plainly not a jpeg") is None
    sof = payload.index(b"\xff\xc0")
    payload[sof + 1] = 0xC3  # relabel SOF0 -> SOF3 (lossless)
    assert decode_jpeg_pixels(bytes(payload)) is None
    payload[sof + 1] = 0xCB  # SOF11: lossless arithmetic, unsupported
    assert decode_jpeg_pixels(bytes(payload)) is None
    # SOF9 (sequential arithmetic) is SUPPORTED since r13 — a Huffman
    # stream relabeled as arithmetic is garbage to the QM decoder but
    # must never raise (value or None, the malformed-payload contract)
    payload[sof + 1] = 0xC9
    decode_jpeg_pixels(bytes(payload))


def test_jpeg_progressive_decodes_identically_to_sequential():
    from citibike_deep_dive_spark.operators.codecs import (
        encode_jpeg_progressive,
    )

    # The progressive stream (SOF2: 2-pass DC successive approximation,
    # per-component spectral-selection AC bands each as an Al=1 first
    # pass + an Ah=1 refinement scan) carries the same quantized
    # coefficients as the sequential stream, so decode must be
    # pixel-IDENTICAL — this covers DC refinement, AC first with EOB
    # runs, and the AC correction-bit path end to end.
    rng = np.random.default_rng(17)
    cases = [
        (_gradient(37, 53), 92),
        (rng.integers(0, 256, size=(32, 32, 3)).astype(np.uint8), 80),
        (rng.integers(0, 256, size=(24, 40, 3)).astype(np.uint8), 100),
        (np.full((16, 16, 3), 77, dtype=np.uint8), 90),
        (rng.integers(0, 256, size=(3, 5, 3)).astype(np.uint8), 60),
    ]
    for img, q in cases:
        prog = decode_jpeg_pixels(encode_jpeg_progressive(img, q))
        seq = decode_jpeg_pixels(encode_jpeg(img, q))
        assert prog is not None and np.array_equal(prog, seq)


def test_jpeg_progressive_ac_refinement_block_grammar():
    # Single-block harness over the raw scan grammar: first pass at
    # Al=1 then refinement at Ah=1 must reproduce every coefficient
    # exactly, including ZRL-across-correction-bits interleaving and
    # EOB-followed-by-tail-correction-bits.
    from citibike_deep_dive_spark.operators.codecs import (
        _AC_BITS,
        _AC_VALS,
        _BitWriterMSB,
        _DC_BITS,
        _DC_VALS,
        _decode_tables,
        _encode_ac_band,
        _encode_ac_band_refine,
        _prog_block,
        _SegBits,
    )

    ac_tab = _decode_tables(_AC_BITS, _AC_VALS)
    dc_tab = _decode_tables(_DC_BITS, _DC_VALS)

    def unstuff(b):
        return bytes(b).replace(b"\xff\x00", b"\xff")

    rng = np.random.default_rng(0)
    for trial in range(300):
        zz = [0] * 64
        for k in rng.integers(1, 64, size=rng.integers(0, 40)):
            zz[k] = int(
                rng.integers(-5, 6) if trial % 2 else rng.integers(-40, 41)
            )
        out = _BitWriterMSB()
        _encode_ac_band(out, zz, 1, 63, al=1)
        out.pad_to_byte()
        coef = [0] * 64
        comp = {"pred": 0}
        _prog_block(
            _SegBits(unstuff(out.buf)), comp, coef, 1, 63, 0, 1,
            dc_tab, ac_tab, {"eobrun": 0},
        )
        out = _BitWriterMSB()
        _encode_ac_band_refine(out, zz, 1, 63, al=0)
        out.pad_to_byte()
        _prog_block(
            _SegBits(unstuff(out.buf)), comp, coef, 1, 63, 1, 0,
            dc_tab, ac_tab, {"eobrun": 0},
        )
        assert coef[1:] == zz[1:]


def test_jpeg_quality_monotone_in_size():
    img = _gradient(32, 32)
    sizes = [len(encode_jpeg(img, quality=q)) for q in (25, 75, 98)]
    assert sizes[0] < sizes[1] < sizes[2]


# ---------------------------------------------------------------------------
# Spark integration: the stub surface is now BMP/PNG/GIF/JPEG-free
# ---------------------------------------------------------------------------


def _media_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, meta_width int, "
        "meta_height int, meta_duration_ms int",
    )


def test_extract_features_real_path_for_gif_and_jpeg(spark):
    gif_px = _palette_image(8, 8, 12, seed=21)
    jpg_src = _gradient(8, 8)
    jpg_payload = encode_jpeg(jpg_src, quality=95)
    jpg_px = decode_jpeg_pixels(jpg_payload)  # features of DECODED pixels
    media = _media_df(
        spark,
        [
            (1, "image", bytearray(encode_gif(gif_px)), 8, 8, 0),
            (2, "image", bytearray(jpg_payload), 8, 8, 0),
            (3, "video", bytearray(b"opaque-video-bytes"), 0, 0, 2000),
        ],
    )
    rows = {r["media_id"]: r for r in extract_features(media).collect()}
    assert rows[1]["features"] == _bmp_features(gif_px)
    assert rows[2]["features"] == _bmp_features(jpg_px)
    assert len(rows[3]["features"]) == 8  # stub fallback for video


def test_gif_channel_stats_exact(spark):
    px = _palette_image(9, 7, 30, seed=22)
    media = _media_df(spark, [(1, "image", bytearray(encode_gif(px)), 7, 9, 0)])
    row = gif_channel_stats(media).collect()[0]
    flat = px.reshape(-1, 3).astype(np.int64)
    lum = flat[:, 0] + 2 * flat[:, 1] + 3 * flat[:, 2]
    idx = np.arange(1, len(lum) + 1, dtype=np.int64)
    assert (row["width"], row["height"]) == (7, 9)
    assert row["mean_r"] == flat[:, 0].sum() / len(flat)
    assert row["poschk"] == int((idx * lum).sum())


def test_jpeg_channel_stats_match_decoded_pixels(spark):
    src = _gradient(17, 11)
    payload = encode_jpeg(src, quality=92)
    px = decode_jpeg_pixels(payload)
    media = _media_df(spark, [(1, "image", bytearray(payload), 11, 17, 0)])
    row = jpeg_channel_stats(media).collect()[0]
    flat = px.reshape(-1, 3).astype(np.int64)
    lum = flat[:, 0] + 2 * flat[:, 1] + 3 * flat[:, 2]
    idx = np.arange(1, len(lum) + 1, dtype=np.int64)
    assert (row["width"], row["height"]) == (11, 17)
    assert row["poschk"] == int((idx * lum).sum())


def test_resize_payload_preserves_container_for_gif_and_jpeg():
    gif_px = _palette_image(20, 30, 40, seed=23)
    resized = resize_payload(encode_gif(gif_px), 15, 10)
    assert parse_image_dimensions(resized) == ("gif", 15, 10)
    out = decode_gif_pixels(resized)
    # nearest-neighbor decimation of a lossless container: exact subset
    ys = (np.arange(10, dtype=np.int64) * 20) // 10
    xs = (np.arange(15, dtype=np.int64) * 30) // 15
    assert np.array_equal(out, gif_px[ys][:, xs])

    jpg = encode_jpeg(_gradient(20, 30), quality=92)
    resized_j = resize_payload(jpg, 15, 10)
    assert parse_image_dimensions(resized_j) == ("jpeg", 15, 10)
    assert decode_jpeg_pixels(resized_j) is not None


# ---------------------------------------------------------------------------
# AVI / MJPEG video
# ---------------------------------------------------------------------------


def _video_frames(n: int, h: int = 24, w: int = 32):
    yy, xx = np.mgrid[0:h, 0:w]
    return [
        np.clip(
            np.stack([xx * 4 + t * 10, yy * 5, xx + yy + t * 5], axis=2), 0, 255
        ).astype(np.uint8)
        for t in range(n)
    ]


def test_avi_mjpeg_roundtrip():
    from citibike_deep_dive_spark.operators.codecs import (
        decode_avi_frames,
        encode_avi_mjpeg,
    )

    frames = _video_frames(5)
    avi = encode_avi_mjpeg(frames, fps=4, quality=92)
    out, fps = decode_avi_frames(avi)
    assert fps == 4 and len(out) == 5
    # each extracted frame is EXACTLY the standalone JPEG decode
    ref = decode_jpeg_pixels(encode_jpeg(frames[2], quality=92))
    assert np.array_equal(out[2], ref)
    worst = max(
        int(np.abs(o.astype(int) - f.astype(int)).max())
        for o, f in zip(out, frames)
    )
    assert worst <= 6
    assert len(decode_avi_frames(avi, max_frames=2)[0]) == 2


def test_avi_rejects_non_avi():
    from citibike_deep_dive_spark.operators.codecs import (
        decode_avi_frames,
        encode_avi_mjpeg,
    )

    avi = encode_avi_mjpeg(_video_frames(2), fps=2)
    assert decode_avi_frames(avi[:100]) is None
    assert decode_avi_frames(b"RIFF\x04\x00\x00\x00WAVE") is None
    assert decode_avi_frames(b"junk") is None


def test_video_frame_stats_real_decode(spark):
    from citibike_deep_dive_spark.operators.codecs import encode_avi_mjpeg
    from citibike_deep_dive_spark.operators.multimodal import video_frame_stats

    frames = _video_frames(6)
    avi = encode_avi_mjpeg(frames, fps=2, quality=92)  # 2 fps, 3 s of video
    media = _media_df(
        spark,
        [
            (1, "video", bytearray(avi), 32, 24, 3000),
            (2, "video", bytearray(b"h264-opaque-bytes"), 0, 0, 1000),
        ],
    )
    rows = video_frame_stats(media, every_ms=1000).collect()
    # every_ms=1000 at 2 fps -> every 2nd frame: indices 0, 2, 4
    assert [r["frame_idx"] for r in rows] == [0, 2, 4]
    assert all(r["media_id"] == 1 for r in rows)  # non-AVI contributes none
    assert [r["frame_ts_ms"] for r in rows] == [0, 1000, 2000]
    from citibike_deep_dive_spark.operators.codecs import decode_avi_frames

    decoded, _ = decode_avi_frames(avi)
    px = decoded[2]
    flat = px.reshape(-1, 3).astype(np.int64)
    lum = flat[:, 0] + 2 * flat[:, 1] + 3 * flat[:, 2]
    idx = np.arange(1, len(lum) + 1, dtype=np.int64)
    assert rows[1]["poschk"] == int((idx * lum).sum())
    assert rows[1]["mean_g"] == flat[:, 1].sum() / len(flat)


# ---------------------------------------------------------------------------
# Audio: G.711 mu-law / A-law and IMA ADPCM (WAV tags 7 / 6 / 0x11)
# ---------------------------------------------------------------------------


def _sine(n: int = 3000):
    t = np.arange(n)
    return (9000 * np.sin(t / 15) + 2000 * np.sin(t / 3.1)).astype(np.int16)


def test_g711_decode_then_encode_is_identity_on_all_codes():
    from citibike_deep_dive_spark.operators.codecs import (
        alaw_decode,
        alaw_encode,
        ulaw_decode,
        ulaw_encode,
    )

    codes = np.arange(256, dtype=np.uint8)
    assert np.array_equal(alaw_encode(alaw_decode(codes.tobytes())), codes)
    u_rt = ulaw_encode(ulaw_decode(codes.tobytes()))
    # mu-law has TWO zero codes (0x7F negative zero, 0xFF positive
    # zero); both decode to 0, which re-encodes to 0xFF — exactly one
    # code is therefore not a fixed point, by the G.711 table itself.
    diff = np.nonzero(u_rt != codes)[0]
    assert list(diff) == [0x7F] and u_rt[0x7F] == 0xFF


def test_g711_roundtrip_error_is_companding_bounded():
    from citibike_deep_dive_spark.operators.codecs import (
        alaw_decode,
        alaw_encode,
        ulaw_decode,
        ulaw_encode,
    )

    s = _sine()
    for enc, dec in ((ulaw_encode, ulaw_decode), (alaw_encode, alaw_decode)):
        out = dec(enc(s).tobytes())
        rel = np.abs(out.astype(int) - s.astype(int)).max() / 32768
        assert rel < 0.04  # 8-bit log companding: ~2-4% worst case


def test_wav_ulaw_alaw_through_decode_wav_samples():
    from citibike_deep_dive_spark.operators.codecs import (
        encode_wav_compressed,
        ulaw_decode,
        ulaw_encode,
    )
    from citibike_deep_dive_spark.operators.multimodal import decode_wav_samples

    s = _sine(500)
    for codec in ("ulaw", "alaw"):
        wav = encode_wav_compressed(s, 8000, codec=codec)
        dec = decode_wav_samples(wav)
        assert dec is not None
        samples, rate, nch = dec
        assert (rate, nch, len(samples)) == (8000, 1, 500)
    # value check for mu-law: table-exact vs direct codec application
    wav = encode_wav_compressed(s, 8000, codec="ulaw")
    samples, _, _ = decode_wav_samples(wav)
    assert np.array_equal(samples, ulaw_decode(ulaw_encode(s).tobytes()))


def test_wav_ima_adpcm_through_decode_wav_samples():
    from citibike_deep_dive_spark.operators.codecs import encode_wav_compressed
    from citibike_deep_dive_spark.operators.multimodal import decode_wav_samples

    s = _sine()  # 3000 samples spans 6 ADPCM blocks (505/block)
    wav = encode_wav_compressed(s, 8000, codec="ima")
    dec = decode_wav_samples(wav)
    assert dec is not None
    samples, rate, nch = dec
    assert (rate, nch) == (8000, 1)
    assert len(samples) == len(s)  # fact chunk trims block padding
    err = samples.astype(float) - s.astype(float)
    snr = 10 * np.log10((s.astype(float) ** 2).sum() / (err**2).sum())
    assert snr > 25  # typical IMA ADPCM quality on a mixed sine


def test_wav_pcm_path_unchanged_and_other_tags_still_rejected():
    from citibike_deep_dive_spark.operators.multimodal import (
        decode_wav_samples,
        encode_wav,
    )

    s = _sine(64)
    blob = bytearray(encode_wav(s, 8000))
    assert np.array_equal(decode_wav_samples(bytes(blob))[0], s)
    blob[20:22] = (3).to_bytes(2, "little")  # IEEE float: still stubbed
    assert decode_wav_samples(bytes(blob)) is None
    blob[20:22] = (0x55).to_bytes(2, "little")  # MP3-in-WAV: stubbed
    assert decode_wav_samples(bytes(blob)) is None


def test_wav_audio_stats_decodes_compressed_payloads(spark):
    from citibike_deep_dive_spark.operators.codecs import (
        encode_wav_compressed,
        ulaw_decode,
        ulaw_encode,
    )
    from citibike_deep_dive_spark.operators.multimodal import wav_audio_stats

    s = _sine(400)
    media = _media_df(
        spark,
        [
            (1, "audio", bytearray(encode_wav_compressed(s, 8000, "ulaw")), 0, 0, 50),
            (2, "audio", bytearray(b"mp3-opaque"), 0, 0, 50),
        ],
    )
    rows = {r["media_id"]: r for r in wav_audio_stats(media).collect()}
    expect = ulaw_decode(ulaw_encode(s).tobytes()).astype(np.int64)
    idx = np.arange(1, len(expect) + 1, dtype=np.int64)
    assert rows[1]["n_samples"] == 400
    assert rows[1]["poschk"] == int((idx * expect).sum())
    assert rows[2]["n_samples"] is None  # non-WAV stays null


# ---------------------------------------------------------------------------
# PNG: palette / grayscale / 16-bit color types (full non-interlaced
# coverage of RFC 2083 — closes the "palette/16-bit PNG" stub entry)
# ---------------------------------------------------------------------------


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import zlib

    return (
        len(body).to_bytes(4, "big")
        + tag
        + body
        + zlib.crc32(tag + body).to_bytes(4, "big")
    )


def _build_png(w, h, depth, ctype, raw_rows, plte=None):
    import zlib

    from citibike_deep_dive_spark.operators.multimodal import _PNG_MAGIC

    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes(
        [depth, ctype, 0, 0, 0]
    )
    scan = bytearray()
    for r in raw_rows:
        scan.append(0)  # filter None (filtered paths covered by encode_png)
        scan.extend(r)
    out = _PNG_MAGIC + _png_chunk(b"IHDR", ihdr)
    if plte is not None:
        out += _png_chunk(b"PLTE", plte)
    return out + _png_chunk(b"IDAT", zlib.compress(bytes(scan))) + _png_chunk(
        b"IEND", b""
    )


def test_png_rgb8_roundtrip_unchanged():
    from citibike_deep_dive_spark.operators.multimodal import (
        decode_png_pixels,
        encode_png,
    )

    px = np.random.default_rng(5).integers(0, 256, size=(9, 7, 3)).astype(
        np.uint8
    )
    assert np.array_equal(decode_png_pixels(encode_png(px)), px)


def test_png_palette_depths():
    from citibike_deep_dive_spark.operators.multimodal import decode_png_pixels

    rng = np.random.default_rng(6)
    pal = rng.integers(0, 256, size=(5, 3)).astype(np.uint8)
    idx8 = rng.integers(0, 5, size=(6, 11)).astype(np.uint8)
    p8 = _build_png(
        11, 6, 8, 3, [idx8[y].tobytes() for y in range(6)], pal.tobytes()
    )
    assert np.array_equal(decode_png_pixels(p8), pal[idx8])

    idx4 = rng.integers(0, 5, size=(4, 5)).astype(np.uint8)
    rows = []
    for y in range(4):
        b = bytearray()
        for i in range(0, 5, 2):
            hi = idx4[y][i] << 4
            lo = idx4[y][i + 1] if i + 1 < 5 else 0
            b.append(hi | lo)
        rows.append(bytes(b))
    p4 = _build_png(5, 4, 4, 3, rows, pal.tobytes())
    assert np.array_equal(decode_png_pixels(p4), pal[idx4])

    # out-of-range palette index: reject, don't wrap
    bad = _build_png(2, 1, 8, 3, [bytes([7, 0])], pal.tobytes())
    assert decode_png_pixels(bad) is None


def test_png_grayscale_depths():
    from citibike_deep_dive_spark.operators.multimodal import decode_png_pixels

    rng = np.random.default_rng(7)
    g1 = rng.integers(0, 2, size=(3, 10)).astype(np.uint8)
    p1 = _build_png(10, 3, 1, 0, [np.packbits(g1[y]).tobytes() for y in range(3)])
    assert np.array_equal(
        decode_png_pixels(p1), np.stack([g1 * 255] * 3, axis=2)
    )

    g16 = rng.integers(0, 65536, size=(3, 4)).astype(">u2")
    p16 = _build_png(4, 3, 16, 0, [g16[y].tobytes() for y in range(3)])
    hb = (g16.astype(np.int64) >> 8).astype(np.uint8)
    assert np.array_equal(decode_png_pixels(p16), np.stack([hb] * 3, axis=2))

    ga = rng.integers(0, 256, size=(2, 3, 2)).astype(np.uint8)
    pga = _build_png(3, 2, 8, 4, [ga[y].tobytes() for y in range(2)])
    g = ga[:, :, 0]
    assert np.array_equal(decode_png_pixels(pga), np.stack([g] * 3, axis=2))


def test_png_rgb16_high_byte_downconversion():
    from citibike_deep_dive_spark.operators.multimodal import decode_png_pixels

    rgb16 = np.random.default_rng(8).integers(0, 65536, size=(2, 3, 3)).astype(
        ">u2"
    )
    p = _build_png(3, 2, 16, 2, [rgb16[y].tobytes() for y in range(2)])
    assert np.array_equal(
        decode_png_pixels(p), (rgb16.astype(np.int64) >> 8).astype(np.uint8)
    )


# ---------------------------------------------------------------------------
# Property tests (hypothesis): codec invariants over arbitrary inputs
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_PROP = settings(max_examples=20, deadline=None)


@_PROP
@given(
    seq=st.lists(st.integers(0, 15), min_size=1, max_size=400),
)
def test_prop_lzw_roundtrip_arbitrary_sequences(seq):
    out = _lzw_decompress(_lzw_compress(seq, 4), 4, len(seq))
    assert out == seq


@_PROP
@given(
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    ncolors=st.integers(1, 8),
    seed=st.integers(0, 2**31),
    interlace=st.booleans(),
)
def test_prop_gif_roundtrip_exact(h, w, ncolors, seed, interlace):
    px = _palette_image(h, w, ncolors, seed=seed)
    out = decode_gif_pixels(encode_gif(px, interlace=interlace))
    assert out is not None and np.array_equal(out, px)


@_PROP
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    seed=st.integers(0, 2**31),
    quality=st.integers(1, 100),
    subsample=st.booleans(),
)
def test_prop_jpeg_decode_never_crashes_and_keeps_shape(
    h, w, seed, quality, subsample
):
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
    out = decode_jpeg_pixels(encode_jpeg(img, quality=quality, subsample=subsample))
    assert out is not None and out.shape == (h, w, 3)


@_PROP
@given(data=st.binary(min_size=0, max_size=300))
def test_prop_decoders_never_raise_on_garbage(data):
    from citibike_deep_dive_spark.operators.codecs import decode_avi_frames
    from citibike_deep_dive_spark.operators.multimodal import (
        decode_png_pixels,
        decode_wav_samples,
    )

    for dec in (
        decode_gif_pixels,
        decode_jpeg_pixels,
        decode_avi_frames,
        decode_png_pixels,
        decode_wav_samples,
    ):
        dec(data)  # must return None or a value, never raise
    for prefix in (b"GIF89a", b"\xff\xd8", b"RIFF", _PNG_HDR):
        for dec in (
            decode_gif_pixels,
            decode_jpeg_pixels,
            decode_avi_frames,
            decode_png_pixels,
            decode_wav_samples,
        ):
            dec(prefix + data)


_PNG_HDR = b"\x89PNG\r\n\x1a\n"


@_PROP
@given(
    samples=st.lists(st.integers(-32768, 32767), min_size=1, max_size=600),
    codec=st.sampled_from(["ulaw", "alaw", "ima"]),
)
def test_prop_compressed_wav_roundtrip_bounded(samples, codec):
    from citibike_deep_dive_spark.operators.codecs import encode_wav_compressed
    from citibike_deep_dive_spark.operators.multimodal import decode_wav_samples

    s = np.asarray(samples, dtype=np.int16)
    dec = decode_wav_samples(encode_wav_compressed(s, 8000, codec=codec))
    assert dec is not None
    out, rate, nch = dec
    assert (rate, nch, len(out)) == (8000, 1, len(s))
    if codec in ("ulaw", "alaw"):
        # companding error is relative: bounded by segment width
        err = np.abs(out.astype(np.int64) - s.astype(np.int64))
        bound = np.maximum(np.abs(s.astype(np.int64)) >> 4, 64) + 16
        assert bool((err <= bound).all())


# ---------------------------------------------------------------------------
# TIFF (baseline 8-bit strips, uncompressed + PackBits, both byte orders)
# ---------------------------------------------------------------------------


def test_tiff_rgb_roundtrip_raw_and_packbits():
    from citibike_deep_dive_spark.operators.codecs import (
        decode_tiff_pixels,
        encode_tiff,
    )

    rgb = np.random.default_rng(9).integers(0, 256, size=(13, 9, 3)).astype(
        np.uint8
    )
    for pb in (False, True):
        payload = encode_tiff(rgb, packbits=pb)
        assert np.array_equal(decode_tiff_pixels(payload), rgb)
    assert parse_image_dimensions(encode_tiff(rgb)) == ("tiff", 9, 13)


def test_tiff_gray_and_inverted_polarity():
    from citibike_deep_dive_spark.operators.codecs import (
        decode_tiff_pixels,
        encode_tiff,
    )

    gray = np.random.default_rng(10).integers(0, 256, size=(7, 11)).astype(
        np.uint8
    )
    out = decode_tiff_pixels(encode_tiff(gray, photometric=1, packbits=True))
    assert np.array_equal(out, np.stack([gray] * 3, axis=2))
    # photometric 0 (WhiteIsZero): same bytes, inverted meaning
    payload = bytearray(encode_tiff(gray, photometric=1))
    # patch the photometric SHORT (tag 262) in the little-endian IFD
    ifd = int.from_bytes(payload[4:8], "little")
    n = int.from_bytes(payload[ifd : ifd + 2], "little")
    for k in range(n):
        off = ifd + 2 + 12 * k
        if int.from_bytes(payload[off : off + 2], "little") == 262:
            payload[off + 8 : off + 10] = (0).to_bytes(2, "little")
    out0 = decode_tiff_pixels(bytes(payload))
    assert np.array_equal(out0, np.stack([255 - gray] * 3, axis=2))


def test_tiff_big_endian_and_palette():
    from citibike_deep_dive_spark.operators.codecs import decode_tiff_pixels

    # hand-build a big-endian palette TIFF: 3x2 8-bit indices + ColorMap
    rng = np.random.default_rng(11)
    idx = rng.integers(0, 4, size=(2, 3)).astype(np.uint8)
    cmap16 = rng.integers(0, 65536, size=(3, 256)).astype(np.int64)

    def be(v, n):
        return int(v).to_bytes(n, "big")

    entries = []  # (tag, type, count, value)
    # header(8) + count(2) + 7 entries * 12 + next(4) = 98
    cmap_off = 8 + 2 + 7 * 12 + 4
    data_off = cmap_off + 3 * 256 * 2
    entries = [
        (256, 3, 1, 3),
        (257, 3, 1, 2),
        (258, 3, 1, 8),
        (259, 3, 1, 1),
        (262, 3, 1, 3),  # palette
        (273, 4, 1, data_off),
        (279, 4, 1, 6),
    ]
    # need ColorMap tag too -> 8 entries; recompute offsets
    cmap_off = 8 + 2 + 8 * 12 + 4
    data_off = cmap_off + 3 * 256 * 2
    entries = [
        (256, 3, 1, 3),
        (257, 3, 1, 2),
        (258, 3, 1, 8),
        (259, 3, 1, 1),
        (262, 3, 1, 3),
        (273, 4, 1, data_off),
        (279, 4, 1, 6),
        (320, 3, 3 * 256, cmap_off),
    ]
    buf = bytearray(b"MM\x00*" + be(8, 4) + be(len(entries), 2))
    for tag, typ, count, value in sorted(entries):
        buf.extend(be(tag, 2) + be(typ, 2) + be(count, 4))
        if typ == 3 and count == 1:
            buf.extend(be(value, 2) + b"\x00\x00")
        else:
            buf.extend(be(value, 4))
    buf.extend(be(0, 4))
    for plane in range(3):
        for v in cmap16[plane]:
            buf.extend(be(v, 2))
    buf.extend(idx.tobytes())
    out = decode_tiff_pixels(bytes(buf))
    expect = (cmap16.T >> 8).astype(np.uint8)[idx.astype(np.int64)]
    assert np.array_equal(out, expect)


def test_tiff_rejects_unsupported():
    from citibike_deep_dive_spark.operators.codecs import (
        decode_tiff_pixels,
        encode_tiff,
    )

    rgb = np.random.default_rng(12).integers(0, 256, size=(4, 4, 3)).astype(
        np.uint8
    )
    payload = bytearray(encode_tiff(rgb))
    assert decode_tiff_pixels(bytes(payload[:20])) is None
    assert decode_tiff_pixels(b"II*\x00junk") is None
    # LZW compression tag (5): out of contract -> None
    ifd = int.from_bytes(payload[4:8], "little")
    n = int.from_bytes(payload[ifd : ifd + 2], "little")
    for k in range(n):
        off = ifd + 2 + 12 * k
        if int.from_bytes(payload[off : off + 2], "little") == 259:
            payload[off + 8 : off + 10] = (5).to_bytes(2, "little")
    assert decode_tiff_pixels(bytes(payload)) is None


def test_tiff_through_extract_features_and_resize(spark):
    from citibike_deep_dive_spark.operators.codecs import (
        decode_tiff_pixels,
        encode_tiff,
    )

    rgb = np.random.default_rng(13).integers(0, 256, size=(12, 10, 3)).astype(
        np.uint8
    )
    payload = encode_tiff(rgb, packbits=True)
    media = _media_df(spark, [(1, "image", bytearray(payload), 10, 12, 0)])
    row = extract_features(media).collect()[0]
    assert row["features"] == _bmp_features(rgb)
    resized = resize_payload(payload, 5, 6)
    assert parse_image_dimensions(resized) == ("tiff", 5, 6)
    ys = (np.arange(6, dtype=np.int64) * 12) // 6
    xs = (np.arange(5, dtype=np.int64) * 10) // 5
    assert np.array_equal(decode_tiff_pixels(resized), rgb[ys][:, xs])


# ---------------------------------------------------------------------------
# FLAC (lossless audio — bit-exact roundtrip contract, like GIF)
# ---------------------------------------------------------------------------


def test_flac_roundtrip_exact_multiframe():
    from citibike_deep_dive_spark.operators.codecs import (
        decode_flac_samples,
        encode_flac,
    )

    s = _sine(10000)  # 3 frames at the 4096 block size
    payload = encode_flac(s, 16000)
    assert len(payload) < 2 * len(s)  # actually compresses
    out, rate, nch = decode_flac_samples(payload)
    assert (rate, nch) == (16000, 1)
    assert np.array_equal(out.astype(np.int64), s.astype(np.int64))


def test_flac_roundtrip_exact_edge_signals():
    from citibike_deep_dive_spark.operators.codecs import (
        decode_flac_samples,
        encode_flac,
    )

    rng = np.random.default_rng(1)
    for sig in (
        np.zeros(5000, dtype=np.int16),
        np.full(100, -321, dtype=np.int16),
        np.array([5], dtype=np.int16),
        rng.integers(-32768, 32768, 9000).astype(np.int16),  # incompressible
        np.array([-32768, 32767] * 300, dtype=np.int16),  # extremes
    ):
        dec = decode_flac_samples(encode_flac(sig))
        assert dec is not None
        assert np.array_equal(dec[0].astype(np.int64), sig.astype(np.int64))


def test_flac_rejects_malformed():
    from citibike_deep_dive_spark.operators.codecs import (
        decode_flac_samples,
        encode_flac,
    )

    payload = bytearray(encode_flac(_sine(5000)))
    assert decode_flac_samples(bytes(payload[:200])) is None
    assert decode_flac_samples(b"fLaCxx") is None
    assert decode_flac_samples(b"not flac") is None
    # flip a bit inside the first frame body: CRC-16 must catch it
    payload[len(payload) // 2] ^= 0x40
    assert decode_flac_samples(bytes(payload)) is None


def test_flac_decodes_lpc_midside_and_escape_partitions():
    # Hand-crafted stereo frame exercising the decoder paths the
    # encoder subset does not emit: mid/side decorrelation, an LPC
    # subframe (coefs [2,-1] shift 0 == fixed order 2), a VERBATIM
    # 17-bit side subframe, and an escape-coded (raw 18-bit) residual
    # partition.
    from citibike_deep_dive_spark.operators.codecs import (
        _crc8,
        _crc16,
        _FlacBitWriter,
        _utf8_coded,
        decode_flac_samples,
    )

    rate, bs = 8000, 16
    rng = np.random.default_rng(3)
    left = rng.integers(-2000, 2000, bs).astype(np.int64)
    right = rng.integers(-2000, 2000, bs).astype(np.int64)
    mid = (left + right) >> 1
    side = left - right

    out = bytearray(b"fLaC")
    si = bytearray()
    si += bs.to_bytes(2, "big") * 2 + (0).to_bytes(3, "big") * 2
    si += ((rate << 44) | (1 << 41) | (15 << 36) | bs).to_bytes(8, "big")
    si += bytes(16)
    out += bytes([0x80]) + len(si).to_bytes(3, "big") + si

    hdr = bytearray(b"\xff\xf8")
    hdr.append(0x70)
    hdr.append((10 << 4) | (4 << 1))  # mid/side | 16-bit
    hdr += _utf8_coded(0)
    hdr += (bs - 1).to_bytes(2, "big")
    hdr.append(_crc8(bytes(hdr)))
    bw = _FlacBitWriter()
    bw.buf.extend(hdr)
    bw.write(0, 1)
    bw.write(32 + 1, 6)  # LPC order 2
    bw.write(0, 1)
    for k in range(2):
        bw.write(int(mid[k]) & 0xFFFF, 16)
    bw.write(3, 4)  # precision 4 (-1)
    bw.write(0, 5)  # shift 0
    bw.write(2 & 0xF, 4)
    bw.write(-1 & 0xF, 4)
    res = [int(mid[i]) - (2 * int(mid[i - 1]) - int(mid[i - 2])) for i in range(2, bs)]
    bw.write(0, 2)
    bw.write(0, 4)
    bw.write(0xF, 4)  # escape
    bw.write(18, 5)  # raw 18-bit residuals
    for r in res:
        bw.write(r & 0x3FFFF, 18)
    bw.write(0, 1)
    bw.write(1, 6)  # VERBATIM side channel
    bw.write(0, 1)
    for v in side:
        bw.write(int(v) & 0x1FFFF, 17)
    bw.align()
    body = bytes(bw.buf)
    out += body + _crc16(body).to_bytes(2, "big")

    inter, r, nch = decode_flac_samples(bytes(out))
    assert (r, nch) == (8000, 2)
    assert np.array_equal(inter[0::2].astype(np.int64), left)
    assert np.array_equal(inter[1::2].astype(np.int64), right)


def test_flac_through_audio_stats_operator(spark):
    from citibike_deep_dive_spark.operators.codecs import encode_flac
    from citibike_deep_dive_spark.operators.multimodal import wav_audio_stats

    s = _sine(600)
    media = _media_df(
        spark,
        [
            (1, "audio", bytearray(encode_flac(s, 16000)), 0, 0, 37),
            (2, "audio", bytearray(b"mp3-opaque"), 0, 0, 37),
        ],
    )
    rows = {r["media_id"]: r for r in wav_audio_stats(media).collect()}
    s64 = s.astype(np.int64)
    idx = np.arange(1, len(s64) + 1, dtype=np.int64)
    assert rows[1]["n_samples"] == 600
    assert rows[1]["sample_rate"] == 16000
    assert rows[1]["poschk"] == int((idx * s64).sum())  # lossless: exact
    assert rows[2]["n_samples"] is None


# ---------------------------------------------------------------------------
# Animated GIF (multi-frame decode with GCE compositing)
# ---------------------------------------------------------------------------


def test_gif_animated_delta_frames_composite_exactly():
    from citibike_deep_dive_spark.operators.codecs import (
        decode_gif_frames,
        decode_gif_pixels,
        encode_gif_animated,
    )

    rng = np.random.default_rng(2)
    pal = rng.integers(0, 256, size=(9, 3)).astype(np.uint8)
    base = pal[rng.integers(0, 9, size=(20, 30))]
    frames = [base.copy()]
    for t in range(1, 5):
        f = frames[-1].copy()
        f[5:9, 10 + t : 16 + t] = pal[t % 9]  # moving patch
        frames.append(f)
    payload = encode_gif_animated(frames, delay_ms=70)
    out, delays = decode_gif_frames(payload)
    # later frames were written as transparent-padded diff bounding
    # boxes; compositing must reproduce every full frame exactly
    assert len(out) == 5 and delays == [70] * 5
    assert all(np.array_equal(o, f) for o, f in zip(out, frames))
    # the single-frame fast path still returns frame 0
    assert np.array_equal(decode_gif_pixels(payload), frames[0])
    assert len(decode_gif_frames(payload, max_frames=2)[0]) == 2
    assert decode_gif_frames(payload[:40]) is None
    assert decode_gif_frames(b"not a gif") is None


def test_gif_animated_identical_frames_and_single_frame():
    from citibike_deep_dive_spark.operators.codecs import (
        decode_gif_frames,
        encode_gif_animated,
    )

    img = _palette_image(6, 8, 7, seed=40)
    out, _ = decode_gif_frames(encode_gif_animated([img], delay_ms=50))
    assert len(out) == 1 and np.array_equal(out[0], img)
    # a static pair (no pixel changes) still yields two frames
    out2, _ = decode_gif_frames(encode_gif_animated([img, img.copy()]))
    assert len(out2) == 2 and np.array_equal(out2[1], img)


def test_tiff_lzw_and_predictor_roundtrip():
    from citibike_deep_dive_spark.operators.codecs import (
        decode_tiff_pixels,
        encode_tiff,
        tiff_lzw_decode,
        tiff_lzw_encode,
    )

    rng = np.random.default_rng(4)
    # raw LZW stream roundtrips, incl. a dictionary-reset-forcing size
    for n in (0, 10, 5000, 100000):
        data = bytes(rng.integers(0, 256, n, dtype=np.uint8))
        assert tiff_lzw_decode(tiff_lzw_encode(data), n) == data
    rep = b"abcab" * 4000
    enc = tiff_lzw_encode(rep)
    assert len(enc) < len(rep) // 10  # actually compresses
    assert tiff_lzw_decode(enc, len(rep)) == rep
    assert tiff_lzw_decode(b"\xff\xff", 100) is None

    rgb = rng.integers(0, 256, size=(23, 17, 3)).astype(np.uint8)
    grad = np.zeros((40, 60, 3), np.uint8)
    grad[:, :, 0] = np.arange(60)[None, :] * 4
    grad[:, :, 1] = np.arange(40)[:, None] * 6
    for kw in ({"lzw": True}, {"lzw": True, "predictor": True}):
        for im in (rgb, grad):
            assert np.array_equal(
                decode_tiff_pixels(encode_tiff(im, **kw)), im
            )
    # the horizontal-differencing predictor is what makes LZW bite on
    # smooth data (TIFF 6.0 §14)
    assert len(encode_tiff(grad, lzw=True, predictor=True)) < len(
        encode_tiff(grad, lzw=True)
    )
    gray = rng.integers(0, 256, size=(9, 14)).astype(np.uint8)
    out = decode_tiff_pixels(
        encode_tiff(gray, photometric=1, lzw=True, predictor=True)
    )
    assert np.array_equal(out, np.stack([gray] * 3, axis=2))


def test_tiff_multi_strip_assembly():
    from citibike_deep_dive_spark.operators.codecs import (
        decode_tiff_pixels,
        packbits_encode,
    )

    # hand-built little-endian TIFF: 7 rows of RGB in 3 strips
    # (rows_per_strip=3 -> strips of 3/3/1 rows), PackBits-compressed
    rng = np.random.default_rng(21)
    rgb = rng.integers(0, 256, size=(7, 5, 3)).astype(np.uint8)
    strips = [
        packbits_encode(rgb[i : i + 3].tobytes()) for i in (0, 3, 6)
    ]

    def le(v, n):
        return int(v).to_bytes(n, "little")

    entries = [  # (tag, type, count, value-or-offset-placeholder)
        (256, 4, 1, 5),
        (257, 4, 1, 7),
        (258, 3, 3, None),  # bits-per-sample array
        (259, 3, 1, 32773),
        (262, 3, 1, 2),
        (273, 4, 3, None),  # strip offsets array
        (277, 3, 1, 3),
        (278, 4, 1, 3),  # rows per strip
        (279, 4, 3, None),  # strip byte counts array
    ]
    ifd = 8
    arrays_off = ifd + 2 + 12 * len(entries) + 4
    bps_off = arrays_off
    offsets_off = bps_off + 6
    counts_off = offsets_off + 12
    data_off = counts_off + 12
    strip_offsets = []
    off = data_off
    for s in strips:
        strip_offsets.append(off)
        off += len(s)
    buf = bytearray(b"II*\x00" + le(ifd, 4) + le(len(entries), 2))
    resolved = {258: bps_off, 273: offsets_off, 279: counts_off}
    for tag, typ, count, value in entries:
        buf += le(tag, 2) + le(typ, 2) + le(count, 4)
        v = resolved.get(tag, value)
        if typ == 3 and count == 1:
            buf += le(v, 2) + b"\x00\x00"
        else:
            buf += le(v, 4)
    buf += le(0, 4)
    buf += b"".join(le(8, 2) for _ in range(3))  # bits per sample
    buf += b"".join(le(o, 4) for o in strip_offsets)
    buf += b"".join(le(len(s), 4) for s in strips)
    for s in strips:
        buf += s
    out = decode_tiff_pixels(bytes(buf))
    assert out is not None and np.array_equal(out, rgb)


def test_audio_metadata_triage_covers_flac(spark):
    from citibike_deep_dive_spark.operators.codecs import encode_flac
    from citibike_deep_dive_spark.operators.multimodal import (
        audio_metadata,
        encode_wav,
        parse_audio_header,
    )

    s = _sine(32000)
    flac = encode_flac(s, 16000)
    assert parse_audio_header(flac) == (1, 16000, 16, 2000)
    media = _media_df(
        spark,
        [
            (1, "audio", bytearray(flac), 0, 0, 2000),
            (2, "audio", bytearray(encode_wav(s, 8000)), 0, 0, 4000),
            (3, "audio", bytearray(b"mp3-opaque"), 0, 0, 0),
        ],
    )
    rows = {r["media_id"]: r for r in audio_metadata(media).collect()}
    assert (rows[1]["sample_rate_hz"], rows[1]["duration_ms"]) == (16000, 2000)
    assert (rows[2]["sample_rate_hz"], rows[2]["duration_ms"]) == (8000, 4000)
    assert rows[3]["sample_rate_hz"] is None


def test_sun_au_roundtrip_and_dispatch():
    from citibike_deep_dive_spark.operators.codecs import (
        decode_au_samples,
        encode_au,
        ulaw_decode,
        ulaw_encode,
    )
    from citibike_deep_dive_spark.operators.multimodal import (
        decode_audio_samples,
        parse_audio_header,
    )

    s = _sine(2000)
    # 16-bit BE PCM is lossless; G.711 encodings are table-exact
    out, rate, nch = decode_au_samples(encode_au(s, 8000, encoding=3))
    assert (rate, nch) == (8000, 1) and np.array_equal(out, s)
    out_u, _, _ = decode_au_samples(encode_au(s, 8000, encoding=1))
    assert np.array_equal(out_u, ulaw_decode(ulaw_encode(s).tobytes()))
    # dispatchers sniff the container
    dec = decode_audio_samples(encode_au(s, 8000, encoding=27))
    assert dec is not None and dec[1] == 8000
    assert parse_audio_header(encode_au(s, 8000, encoding=1)) == (
        1, 8000, 8, 250,  # 2000 mu-law bytes at 8 kHz = 250 ms
    )
    assert decode_au_samples(b".sndxx") is None
    assert decode_au_samples(b"junk") is None


def test_ico_container_png_and_dib_entries():
    import struct

    from citibike_deep_dive_spark.operators.codecs import (
        decode_ico_pixels,
        encode_ico,
    )
    from citibike_deep_dive_spark.operators.multimodal import encode_bmp

    rng = np.random.default_rng(6)
    small = rng.integers(0, 256, (16, 16, 3)).astype(np.uint8)
    big = rng.integers(0, 256, (32, 32, 3)).astype(np.uint8)
    ico = encode_ico([small, big])
    assert np.array_equal(decode_ico_pixels(ico), big)  # largest entry
    assert parse_image_dimensions(ico) == ("ico", 32, 32)
    # classic DIB entry: headerless BMP body with doubled height
    dib = bytearray(encode_bmp(small)[14:])
    dib[8:12] = (32).to_bytes(4, "little")
    entry = struct.pack("<BBBBHHII", 16, 16, 0, 0, 1, 24, len(dib), 22)
    ico2 = b"\x00\x00\x01\x00\x01\x00" + entry + bytes(dib)
    assert np.array_equal(decode_ico_pixels(ico2), small)
    assert decode_ico_pixels(b"xxxx") is None
    assert decode_ico_pixels(b"\x00\x00\x01\x00\x00\x00") is None
    # resize keeps the container
    resized = resize_payload(ico, 8, 8)
    assert parse_image_dimensions(resized) == ("ico", 8, 8)
    assert decode_ico_pixels(resized).shape == (8, 8, 3)


# ---------------------------------------------------------------------------
# Malformed-payload contract + multi-scan sequential (round-13 ADVICE)
# ---------------------------------------------------------------------------


def _strip_markers(payload: bytes, drop: int) -> bytes:
    """Remove every segment with the given marker from a JPEG."""
    out = bytearray(payload[:2])
    pos = 2
    while pos + 4 <= len(payload):
        marker = payload[pos + 1]
        if marker == 0xDA:  # keep SOS and everything after
            out.extend(payload[pos:])
            return bytes(out)
        ln = int.from_bytes(payload[pos + 2 : pos + 4], "big")
        if marker != drop:
            out.extend(payload[pos : pos + 2 + ln])
        pos += 2 + ln
    return bytes(out)


def test_jpeg_missing_huffman_table_returns_none():
    # a scan referencing a table no DHT defined must fall back to None
    # (stub path), never crash the Arrow operator with a TypeError
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (16, 16, 3)).astype(np.uint8)
    crippled = _strip_markers(encode_jpeg(img, quality=90), drop=0xC4)
    assert crippled != encode_jpeg(img, quality=90)
    assert decode_jpeg_pixels(crippled) is None


def test_avi_with_tableless_jpeg_frames_returns_none():
    from citibike_deep_dive_spark.operators.codecs import (
        decode_avi_frames,
        encode_avi_mjpeg,
    )

    frames = _video_frames(2)
    avi = bytearray(encode_avi_mjpeg(frames, fps=2))
    # cripple every embedded JPEG by renaming its DHT markers to COM
    pos = 0
    while True:
        pos = avi.find(b"\xff\xc4", pos)
        if pos < 0:
            break
        avi[pos + 1] = 0xFE
        pos += 2
    assert decode_avi_frames(bytes(avi)) is None


def test_tiff_rational_typed_tag_falls_back_to_default():
    from citibike_deep_dive_spark.operators.codecs import (
        decode_tiff_pixels,
        encode_tiff,
    )

    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, (9, 7, 3)).astype(np.uint8)
    payload = bytearray(encode_tiff(img))
    ifd = int.from_bytes(payload[4:8], "little")
    n = int.from_bytes(payload[ifd : ifd + 2], "little")
    patched = 0
    for k in range(n):
        off = ifd + 2 + 12 * k
        tag = int.from_bytes(payload[off : off + 2], "little")
        if tag == 259:  # Compression entry mistyped as RATIONAL
            payload[off + 2 : off + 4] = (5).to_bytes(2, "little")
            patched += 1
    assert patched == 1
    # values() now treats the mistyped entry as absent -> default
    # (uncompressed), which happens to be what the writer emitted, so
    # the decode recovers the pixels instead of raising TypeError
    out = decode_tiff_pixels(bytes(payload))
    assert out is not None and np.array_equal(out, img)


def test_jpeg_multiscan_sequential_decodes_all_components():
    from citibike_deep_dive_spark.operators.codecs import encode_jpeg_multiscan

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (21, 18, 3)).astype(np.uint8)
    multi = decode_jpeg_pixels(encode_jpeg_multiscan(img, quality=88))
    single = decode_jpeg_pixels(encode_jpeg(img, quality=88))
    # same quantized coefficients -> bit-identical pixels; in
    # particular chroma must NOT come back flat (the pre-fix failure)
    assert multi is not None and np.array_equal(multi, single)
    assert len(np.unique(multi.reshape(-1, 3), axis=0)) > 1


def test_jpeg_multiscan_missing_component_returns_none():
    from citibike_deep_dive_spark.operators.codecs import encode_jpeg_multiscan

    rng = np.random.default_rng(6)
    img = rng.integers(0, 256, (10, 10, 3)).astype(np.uint8)
    payload = encode_jpeg_multiscan(img, quality=90)
    # truncate after the SECOND scan: drop from the third SOS onward
    sos_positions = []
    pos = 0
    while True:
        pos = payload.find(b"\xff\xda", pos)
        if pos < 0:
            break
        sos_positions.append(pos)
        pos += 2
    assert len(sos_positions) == 3
    truncated = payload[: sos_positions[2]] + b"\xff\xd9"
    # a sequential file whose scans never covered component 3 would
    # silently emit flat chroma -> must route to the stub fallback
    assert decode_jpeg_pixels(truncated) is None


def test_avi_index_matches_full_decode():
    from citibike_deep_dive_spark.operators.codecs import (
        decode_avi_frames,
        decode_jpeg_pixels as djp,
        encode_avi_mjpeg,
        index_avi,
    )

    frames = _video_frames(4)
    avi = encode_avi_mjpeg(frames, fps=8, quality=90)
    fps, chunks = index_avi(avi)
    assert fps == 8 and len(chunks) == 4
    full, _ = decode_avi_frames(avi)
    for (off, ln), ref in zip(chunks, full):
        assert np.array_equal(djp(avi[off : off + ln]), ref)
    assert index_avi(b"RIFF\x04\x00\x00\x00WAVE") is None


# ---------------------------------------------------------------------------
# Arithmetic-coded JPEG (T.81 Annex D QM-coder; round-13)
# ---------------------------------------------------------------------------

_ARITH_DIR = __import__("os").path.join(
    __import__("os").path.dirname(__file__), "data", "arith"
)


def test_qm_table_structure():
    from citibike_deep_dive_spark.operators.codecs import _QM_FIXED_BIN, _QM_QE

    assert len(_QM_QE) == 114  # Table D.3 (113 states) + the fixed bin
    for i, (qe, nmps, nlps, sw) in enumerate(_QM_QE):
        assert 0 < qe <= 0x5B12
        assert 0 <= nmps < 114 and 0 <= nlps < 114
        assert sw in (0, 1)
        if sw:  # switch happens only at the bottom of an attack run
            assert nlps == i or i in (110, 112) or nlps <= i + 1
    # the famous initial state and the non-adaptive fixed bin
    assert _QM_QE[0] == (0x5A1D, 1, 1, 1)
    assert _QM_QE[_QM_FIXED_BIN] == (0x5A1D, 113, 113, 0)


@pytest.mark.parametrize(
    "name",
    ["seq_rgb", "seq_gray", "seq_restart", "prog_rgb", "prog_gray",
     "prog_restart"],
)
def test_arith_jpeg_decodes_libjpeg_fixtures_exactly(name):
    # tests/data/arith: REAL arithmetic-coded JPEGs produced by
    # libjpeg-turbo (the reference implementation; generator in
    # tests/tools/gen_arith_fixtures.py), each paired with a Huffman
    # twin of the SAME quantized coefficients. Decoding both through
    # our pipeline must agree BIT-EXACTLY: any error anywhere in the
    # QM decoder, the Table D.3 transcription, or the DC/AC
    # statistical models derails the decision stream and fails this.
    import os

    arith = open(os.path.join(_ARITH_DIR, f"{name}_arith.jpg"), "rb").read()
    huff = open(os.path.join(_ARITH_DIR, f"{name}_huff.jpg"), "rb").read()
    assert b"\xff\xc9" in arith or b"\xff\xca" in arith  # SOF9/SOF10
    assert b"\xff\xcc" in arith  # DAC
    a = decode_jpeg_pixels(arith)
    h = decode_jpeg_pixels(huff)
    assert a is not None and h is not None
    assert np.array_equal(a, h)


def test_arith_jpeg_encoder_roundtrip_matches_huffman_twin():
    from citibike_deep_dive_spark.operators.codecs import encode_jpeg_arith

    rng = np.random.default_rng(13)
    for (w, h, q) in [(16, 13, 90), (8, 8, 95), (33, 29, 75), (24, 24, 10)]:
        img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        a = encode_jpeg_arith(img, quality=q)
        hf = encode_jpeg(img, quality=q)
        assert len(a) < len(hf)  # the QM coder's compression advantage
        pa = decode_jpeg_pixels(a)
        ph = decode_jpeg_pixels(hf)
        assert pa is not None and np.array_equal(pa, ph)


def test_arith_jpeg_feature_extraction_routes_through_real_decode(spark):
    from citibike_deep_dive_spark.operators.codecs import encode_jpeg_arith

    rng = np.random.default_rng(14)
    img = rng.integers(0, 256, (9, 11, 3)).astype(np.uint8)
    payload = encode_jpeg_arith(img, quality=92)
    assert parse_image_dimensions(payload) == ("jpeg", 11, 9)
    media = _media_df(spark, [(1, "image", bytearray(payload), 11, 9, 0)])
    rows = jpeg_channel_stats(media).collect()
    ref = decode_jpeg_pixels(payload)
    flat = ref.reshape(-1, 3).astype(np.int64)
    assert rows[0]["mean_g"] == flat[:, 1].sum() / len(flat)


def test_arith_jpeg_truncated_and_garbage_return_none():
    import os

    arith = open(os.path.join(_ARITH_DIR, "seq_rgb_arith.jpg"), "rb").read()
    # truncations inside the entropy stream must not raise — the QM
    # decoder pads with zero bytes and the grids stay decodable, or the
    # walk rejects the stream; either way: value or None, no exception
    for cut in (20, 100, len(arith) // 2, len(arith) - 3):
        decode_jpeg_pixels(arith[:cut])
    corrupted = arith[:150] + bytes([arith[150] ^ 0xFF]) + arith[151:]
    decode_jpeg_pixels(corrupted)  # must not raise


# ---------------------------------------------------------------------------
# MS-RLE8 — inter-frame AVI video (BI_RLE8; round-13)
# ---------------------------------------------------------------------------


def _rle_frames(n, h=20, w=31, ncolors=12, seed=3):
    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, (ncolors, 3)).astype(np.uint8)
    base = pal[rng.integers(0, ncolors, (h, w))]
    frames = []
    for t in range(n):
        f = base.copy()
        f[5 + t : 9 + t, 4 + 2 * t : 10 + 2 * t] = pal[t % ncolors]
        frames.append(f)
    return frames


def test_avi_rle8_interframe_roundtrip_exact():
    from citibike_deep_dive_spark.operators.codecs import (
        decode_avi_frames,
        encode_avi_rle8,
        index_avi,
        parse_avi_video_format,
    )

    frames = _rle_frames(5)
    avi = encode_avi_rle8(frames, fps=6)
    fmt = parse_avi_video_format(avi)
    assert fmt["handler"] == b"MRLE" and fmt["compression"] == 1
    assert (fmt["width"], fmt["height"]) == (31, 20)
    out, fps = decode_avi_frames(avi)
    assert fps == 6 and len(out) == 5
    # RLE8 is lossless for palettized content AND inter-frame: every
    # composited frame must be bit-exact, proving the delta-skip codes
    # really carry the previous frame through the canvas
    for o, f in zip(out, frames):
        assert np.array_equal(o, f)
    # temporal compression is real: delta chunks far below the keyframe
    _, chunks = index_avi(avi)
    sizes = [ln for _, ln in chunks]
    assert all(s < sizes[0] / 3 for s in sizes[1:])
    assert len(decode_avi_frames(avi, max_frames=2)[0]) == 2


def test_avi_rle8_video_frame_stats(spark):
    from citibike_deep_dive_spark.operators.codecs import encode_avi_rle8
    from citibike_deep_dive_spark.operators.multimodal import video_frame_stats

    frames = _rle_frames(6)
    avi = encode_avi_rle8(frames, fps=2)  # 2 fps -> stride 2 at 1000 ms
    media = _media_df(spark, [(1, "video", bytearray(avi), 31, 20, 3000)])
    rows = video_frame_stats(media, every_ms=1000).collect()
    assert [r["frame_idx"] for r in rows] == [0, 2, 4]
    flat = frames[2].reshape(-1, 3).astype(np.int64)
    assert rows[1]["mean_r"] == flat[:, 0].sum() / len(flat)


def test_avi_rle8_malformed_returns_none():
    from citibike_deep_dive_spark.operators.codecs import (
        decode_avi_frames,
        encode_avi_rle8,
    )

    frames = _rle_frames(3)
    avi = bytearray(encode_avi_rle8(frames, fps=4))
    # truncate inside the movi list: must be None or partial, not raise
    decode_avi_frames(bytes(avi[: len(avi) // 2]))
    # >256 colors is rejected at encode time
    rng = np.random.default_rng(9)
    big = [rng.integers(0, 256, (40, 40, 3)).astype(np.uint8)]
    with pytest.raises(ValueError):
        encode_avi_rle8(big)
