"""Zero-dep video codec (uncompressed RIFF/AVI, struct+numpy) and its
integration with the multimodal Arrow operators: decode → per-clip stats,
frame-sample → image payloads that feed straight back into the image
pipeline, violation rows on corrupt payloads — closes the video half of the
multimodal registry alongside imagecodec.py."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from data_profiler_spark.operators import imagecodec as ic
from data_profiler_spark.operators import multimodal
from data_profiler_spark.operators import videocodec as vc


def _frames(n, h, w, seed=0):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(n, h, w, 3), dtype=np.uint8)


# ---------------------------------------------------------------- codec --


def test_avi_roundtrip_exact():
    fr = _frames(4, 5, 3)  # width 3 → 9-byte rows pad to 12 (row padding)
    out, fps = vc.decode_avi(vc.encode_avi(fr, fps=12.5))
    assert np.array_equal(out, fr)
    assert fps == pytest.approx(12.5)


def test_avi_golden_header_layout():
    """Pin the container layout: RIFF/AVI magic, hdrl-before-movi, strf
    advertising 24-bpp BI_RGB at the encoded dimensions, and the movi frame
    chunk holding bottom-up BGR rows."""
    fr = np.zeros((1, 2, 2, 3), dtype=np.uint8)
    fr[0, 0, 0] = [255, 0, 0]  # top-left RED in RGB
    b = vc.encode_avi(fr, fps=10.0)
    assert b[:4] == b"RIFF" and b[8:12] == b"AVI "
    assert struct.unpack_from("<I", b, 4)[0] == len(b) - 8
    assert b.find(b"hdrl") < b.find(b"movi") < b.find(b"idx1")
    strf_at = b.find(b"strf") + 8
    size, w, h, planes, bpp, comp = struct.unpack_from("<IiiHHI", b, strf_at)
    assert (size, w, h, planes, bpp, comp) == (40, 2, 2, 1, 24, 0)
    frame_at = b.find(b"00db") + 8
    # bottom-up: first stored row is the BOTTOM image row (all zeros);
    # second stored row starts with the top-left pixel as BGR = 0,0,255
    row_bytes = 8  # 2 px * 3 B = 6, padded to 8
    bottom = b[frame_at : frame_at + row_bytes]
    top = b[frame_at + row_bytes : frame_at + 2 * row_bytes]
    assert bottom[:6] == bytes(6)
    assert top[:3] == bytes([0, 0, 255])


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(1, 6),
    h=st.integers(1, 9),
    w=st.integers(1, 9),
    fps_milli=st.integers(1, 60_000),
    seed=st.integers(0, 2**31 - 1),
)
def test_avi_roundtrip_property(n, h, w, fps_milli, seed):
    fr = _frames(n, h, w, seed)
    fps = fps_milli / 1000.0
    out, got_fps = vc.decode_avi(vc.encode_avi(fr, fps=fps))
    assert np.array_equal(out, fr)
    # scale=1000 makes any millihertz rate exact
    assert got_fps == pytest.approx(fps, abs=1e-9)


def test_avi_truncations_raise_precise_valueerror():
    b = vc.encode_avi(_frames(2, 4, 4), fps=10.0)
    for cut in (0, 5, 11, 40, len(b) // 2, len(b) - 1):
        with pytest.raises(ValueError, match="avi:"):
            vc.decode_avi(b[:cut])


def test_avi_bad_magic_and_wrong_sizes():
    b = vc.encode_avi(_frames(1, 2, 2), fps=10.0)
    with pytest.raises(ValueError, match="magic"):
        vc.decode_avi(b"JUNK" + b[4:])
    # corrupt a movi frame chunk's size in place → precise chunk error
    frame_at = b.find(b"00db")
    bad = bytearray(b)
    struct.pack_into("<I", bad, frame_at + 4, 10_000)
    with pytest.raises(ValueError, match="avi:"):
        vc.decode_avi(bytes(bad))


def test_avi_top_down_dib_decodes_unflipped():
    """Negative biHeight = top-down row order (valid, some encoders emit
    it): the decoder must NOT apply the bottom-up flip. Build one by
    negating biHeight and reversing the stored row order of an encoded
    bottom-up file — the pixels must come back identical."""
    fr = _frames(1, 4, 3, seed=7)
    b = bytearray(vc.encode_avi(fr, fps=10.0))
    strf_at = b.find(b"strf") + 8
    _, w, h = struct.unpack_from("<Iii", b, strf_at)
    struct.pack_into("<i", b, strf_at + 8, -h)  # biHeight → negative
    rb = (w * 3 + 3) & ~3
    frame_at = b.find(b"00db") + 8
    rows = [bytes(b[frame_at + r * rb : frame_at + (r + 1) * rb]) for r in range(h)]
    b[frame_at : frame_at + rb * h] = b"".join(reversed(rows))
    out, _ = vc.decode_avi(bytes(b))
    assert np.array_equal(out, fr)


def test_avi_audio_stream_strf_is_not_parsed_as_bitmap():
    """An AVI with a video strl plus an audio strl whose strf is a 40-byte
    WAVEFORMAT blob must decode fine: the audio strf's wBitsPerSample must
    never be read as a bitmap bpp (it would raise 'only 24-bpp')."""
    fr = _frames(2, 4, 4, seed=3)
    b = vc.encode_avi(fr, fps=10.0)

    def chunk(fourcc, body):
        return fourcc + struct.pack("<I", len(body)) + body + (b"\x00" * (len(body) % 2))

    def lst(t, body):
        return chunk(b"LIST", t + body)

    auds_strh = (
        b"auds" + b"\x00" * 4
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, 16000, 0, 16000, 0, 0, 2)
        + struct.pack("<4h", 0, 0, 0, 0)
    )
    # 40-byte WAVEFORMAT-ish blob: wBitsPerSample=16 sits where a bitmap
    # header keeps biBitCount
    auds_strf = struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16) + b"\x00" * 24
    auds_strl = lst(b"strl", chunk(b"strh", auds_strh) + chunk(b"strf", auds_strf))

    # splice the audio strl into the hdrl LIST (after the video strl)
    hdrl_at = b.find(b"hdrl") - 8  # position of the LIST fourcc
    hdrl_size = struct.unpack_from("<I", b, hdrl_at + 4)[0]
    hdrl_end = hdrl_at + 8 + hdrl_size
    out = bytearray(b[:hdrl_end] + auds_strl + b[hdrl_end:])
    struct.pack_into("<I", out, hdrl_at + 4, hdrl_size + len(auds_strl))
    struct.pack_into("<I", out, 4, len(out) - 8)  # RIFF size
    dec, fps = vc.decode_avi(bytes(out))
    assert np.array_equal(dec, fr) and fps == pytest.approx(10.0)


def _splice_audio_strl(b: bytes, *, before_video: bool, short_strh: bool = False) -> bytes:
    """Insert an audio strl into the hdrl LIST, before or after the video
    strl; when inserted BEFORE, the video stream becomes stream 1, so its
    movi frame chunks must be renamed 00db→01db to stay a valid file."""

    def chunk(fourcc, body):
        return fourcc + struct.pack("<I", len(body)) + body + (b"\x00" * (len(body) % 2))

    def lst(t, body):
        return chunk(b"LIST", t + body)

    strh_body = (
        b"auds" + b"\x00" * 4
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, 16000, 0, 16000, 0, 0, 2)
        + struct.pack("<4h", 0, 0, 0, 0)
    )
    if short_strh:
        strh_body = b"auds" + b"\x00" * 8  # 12 bytes, below the 32-byte floor
    strf_body = struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16) + b"\x00" * 24
    auds_strl = lst(b"strl", chunk(b"strh", strh_body) + chunk(b"strf", strf_body))

    hdrl_at = b.find(b"hdrl") - 8
    hdrl_size = struct.unpack_from("<I", b, hdrl_at + 4)[0]
    if before_video:
        insert_at = b.find(b"LIST", b.find(b"avih"))  # before the video strl
    else:
        insert_at = hdrl_at + 8 + hdrl_size  # end of hdrl
    out = bytearray(b[:insert_at] + auds_strl + b[insert_at:])
    struct.pack_into("<I", out, hdrl_at + 4, hdrl_size + len(auds_strl))
    struct.pack_into("<I", out, 4, len(out) - 8)
    if before_video:
        idx = out.find(b"00db")
        while idx != -1:
            out[idx : idx + 2] = b"01"
            idx = out.find(b"00db", idx + 4)
    return bytes(out)


def test_avi_video_as_second_stream_decodes():
    """The stream index rides the movi chunk ids ('01db' = stream 1): an
    AVI whose audio strl comes FIRST must still decode its video frames."""
    fr = _frames(2, 4, 4, seed=9)
    out = _splice_audio_strl(vc.encode_avi(fr, fps=10.0), before_video=True)
    dec, fps = vc.decode_avi(out)
    assert np.array_equal(dec, fr) and fps == pytest.approx(10.0)


def test_avi_short_strh_in_sibling_stream_is_skipped():
    """A malformed strh in a NON-video sibling stream must not fail the
    decode — only the video stream's strh is held to the size floor."""
    fr = _frames(1, 3, 3, seed=4)
    out = _splice_audio_strl(
        vc.encode_avi(fr, fps=10.0), before_video=False, short_strh=True
    )
    dec, _ = vc.decode_avi(out)
    assert np.array_equal(dec, fr)


def test_avi_short_video_strf_raises():
    """A video strf below the 40-byte BITMAPINFOHEADER floor must fail the
    decode, like a short video strh — not fall back to avih dimensions with
    bpp and compression never checked."""
    b = vc.encode_avi(_frames(1, 3, 3, seed=5), fps=10.0)
    strf_at = b.find(b"strf")
    cut = 20  # bytes dropped from the strf body (40 → 20)
    out = bytearray(b[: strf_at + 8 + 40 - cut] + b[strf_at + 8 + 40 :])
    struct.pack_into("<I", out, strf_at + 4, 40 - cut)
    # shrink every enclosing chunk: the strl and hdrl LISTs and the RIFF
    for at in (out.find(b"strl") - 8, out.find(b"hdrl") - 8, 0):
        size = struct.unpack_from("<I", out, at + 4)[0]
        struct.pack_into("<I", out, at + 4, size - cut)
    with pytest.raises(ValueError, match="avi: video strf chunk too short"):
        vc.decode_avi(bytes(out))


def test_avi_interleaved_rec_lists_decode_like_flat():
    """An interleaved AVI groups its movi chunks in LIST 'rec ' sub-lists
    (one per interleave step, here holding 2, 1 and 2 frames): the walker
    must descend into them and recover the flat file's frames."""
    fr = _frames(5, 3, 4, seed=11)
    b = vc.encode_avi(fr, fps=10.0)
    movi_at = b.find(b"movi") - 8
    movi_size = struct.unpack_from("<I", b, movi_at + 4)[0]
    frame_chunk = 8 + struct.unpack_from("<I", b, movi_at + 16)[0]
    chunks = [
        b[pos : pos + frame_chunk]
        for pos in range(movi_at + 12, movi_at + 8 + movi_size, frame_chunk)
    ]
    recs = b"".join(
        b"LIST" + struct.pack("<I", 4 + len(body)) + b"rec " + body
        for body in (chunks[0] + chunks[1], chunks[2], chunks[3] + chunks[4])
    )
    movi = b"LIST" + struct.pack("<I", 4 + len(recs)) + b"movi" + recs
    out = bytearray(b[:movi_at] + movi + b[movi_at + 8 + movi_size :])
    struct.pack_into("<I", out, 4, len(out) - 8)
    dec, fps = vc.decode_avi(bytes(out))
    flat, _ = vc.decode_avi(b)
    assert np.array_equal(dec, flat) and np.array_equal(dec, fr)
    assert fps == pytest.approx(10.0)


def test_avi_tiny_fps_raises_valueerror_not_zerodivision():
    with pytest.raises(ValueError, match="avi:"):
        vc.encode_avi(_frames(1, 2, 2), fps=1e-4)


def test_avi_rejects_out_of_envelope():
    with pytest.raises(ValueError, match="zero frames"):
        vc.encode_avi(np.zeros((0, 2, 2, 3), dtype=np.uint8))
    with pytest.raises(ValueError, match="uint8"):
        vc.encode_avi(np.zeros((1, 2, 2, 3), dtype=np.float32))
    with pytest.raises(ValueError, match="fps"):
        vc.encode_avi(np.zeros((1, 2, 2, 3), dtype=np.uint8), fps=0.0)
    # compressed fourcc in strf → unsupported compression
    b = bytearray(vc.encode_avi(_frames(1, 2, 2), fps=10.0))
    strf_at = b.find(b"strf") + 8
    struct.pack_into("<I", b, strf_at + 16, 0x44495658)  # 'XVID'
    with pytest.raises(ValueError, match="BI_RGB"):
        vc.decode_avi(bytes(b))


# ------------------------------------------------- Spark-side operators --


def _media_df(spark, n_clips=4, corrupt_idx=None, frames_per_clip=5):
    rows = []
    for i in range(n_clips):
        fr = _frames(frames_per_clip, 6, 8, seed=i)
        p = vc.encode_avi(fr, fps=10.0 + i)
        if corrupt_idx is not None and i == corrupt_idx:
            p = p[: len(p) // 2]
        rows.append((f"v{i}", bytearray(p), "avi"))
    return spark.createDataFrame(rows, "media_id string, payload binary, fmt string")


def test_video_decode_stats_and_violation_row(spark):
    stats = {
        r["media_id"]: r
        for r in multimodal.video_decode_stats(_media_df(spark, 4, corrupt_idx=2)).collect()
    }
    assert len(stats) == 4
    for i in (0, 1, 3):
        r = stats[f"v{i}"]
        assert r["decode_ok"] and r["n_frames"] == 5
        assert (r["dec_height"], r["dec_width"]) == (6, 8)
        assert r["fps"] == pytest.approx(10.0 + i)
        assert r["duration_ms"] == pytest.approx(5 / (10.0 + i) * 1000.0)
    bad = stats["v2"]
    assert not bad["decode_ok"] and "avi:" in bad["decode_err"]
    assert bad["n_frames"] is None


def test_frame_sample_feeds_image_pipeline(spark):
    media = _media_df(spark, 3, corrupt_idx=1, frames_per_clip=7)
    out = multimodal.frame_sample(media, n_samples=3).collect()
    by_id: dict[str, list] = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r)
    # good clips: 3 evenly spaced frames incl. first and last
    for mid in ("v0", "v2"):
        idxs = sorted(r["frame_idx"] for r in by_id[mid])
        assert idxs == [0, 3, 6]
        assert all(r["sample_err"] is None for r in by_id[mid])
    # corrupt clip: exactly one violation row, NULL payload
    assert len(by_id["v1"]) == 1
    assert by_id["v1"][0]["sample_err"] and by_id["v1"][0]["payload"] is None
    # sampled payloads are real BMPs whose pixels equal the source frame
    src = _frames(7, 6, 8, seed=0)
    for r in by_id["v0"]:
        assert np.array_equal(ic.decode_bmp(bytes(r["payload"])), src[r["frame_idx"]])


def test_frame_sample_short_clip_dedupes_indices(spark):
    # 2-frame clip sampled at n_samples=4 → exactly frames {0, 1}, no dupes
    media = _media_df(spark, 1, frames_per_clip=2)
    out = multimodal.frame_sample(media, n_samples=4).collect()
    assert sorted(r["frame_idx"] for r in out) == [0, 1]


def test_frame_sample_encoder_failure_drops_clip_frames(spark, monkeypatch):
    """An encoder failing on a clip's SECOND sampled frame must leave that
    clip with exactly one sample_err row — not its first frame's row plus
    an error row — and must not touch the other clips."""
    second = _frames(7, 6, 8, seed=0)[3]  # v0's sampled frames are 0, 3, 6

    def fails_on_second_frame(px, fmt):
        if np.array_equal(px, second):
            raise ValueError("encoder failed")
        return ic.encode_bmp(px)

    monkeypatch.setitem(multimodal._ENCODERS, "bmp_fail2", fails_on_second_frame)
    media = _media_df(spark, 2, frames_per_clip=7)
    out = multimodal.frame_sample(media, n_samples=3, image_fmt="bmp_fail2").collect()
    by_id: dict[str, list] = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r)
    assert len(by_id["v0"]) == 1
    err = by_id["v0"][0]
    assert err["payload"] is None and err["frame_idx"] is None
    assert "encoder failed" in err["sample_err"]
    assert sorted(r["frame_idx"] for r in by_id["v1"]) == [0, 3, 6]
    assert all(r["sample_err"] is None for r in by_id["v1"])


def test_unregistered_video_format_is_violation_row(spark):
    df = spark.createDataFrame(
        [("x", bytearray(b"\x00" * 64), "mp4")],
        "media_id string, payload binary, fmt string",
    )
    r = multimodal.video_decode_stats(df).collect()[0]
    assert not r["decode_ok"]
    assert "no video decoder registered" in r["decode_err"]
